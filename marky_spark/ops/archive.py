"""Archive columns: zip / gzip / tar bundles → per-member document rows.

Real corpora arrive bundled — Common-Crawl-style dumps, book zips,
source tarballs — so the extraction pipeline's first move at 100 TB is
an ARCHIVE EXPLODE: one binary blob fans out to N member rows that then
flow through the same sniff → convert path as loose documents
(marky's CLI converts one file at a time, marky.go:29-41; this operator
is the distributed generalization of "run it over a directory").

Operators:
- ``explode_archive`` — archive payloads → (member_name, member_idx,
  kind, payload, n_bytes) rows via ``mapInPandas`` (same fan-out shape as
  frame_sample: one input row → N output rows, no shuffle, no driver
  collect). Containers: zip (PK\\x03\\x04, incl. bzip2/LZMA members via
  stdlib zipfile), gzip single-member (\\x1f\\x8b — a ``.tar.gz``
  explodes into the tar's members), POSIX tar (ustar magic at offset
  257), bzip2, xz, and 7z (ops/sevenzip: Copy/LZMA/LZMA2/BZip2
  single-coder folders, encoded headers). Non-archives pass through
  as a ``not_archive`` row (callers route them to convert directly).
- ``row_doc`` — an ``ok`` member row → the ingest door's
  ``(doc_id, kind, bytes)``; ``ingest.docs_from_archive_dir`` streams a
  directory of real .zip/.tar/.tar.gz/... files through
  ``_stream_rows`` with it, each file opened as a STREAM on the worker
  (zip members read one at a time via the central directory; tar/tgz
  walked in ``r|*`` streaming mode), so memory stays bounded per
  member no matter how large the archive.
- ``synth_archive_media`` — deterministic archive corpus over doc ids
  (each doc's text wrapped as zip / gzip / tar / 7z rotating by doc_id),
  the fixture the driver oracle pins: extraction must recover EXACTLY
  the member bytes, so payload md5s are SQL-reconstructible.

Memory model (the 100 TB contract): members are extracted ONE AT A
TIME and emitted in bounded pandas chunks — peak memory is
O(MAX_MEMBER_BYTES + chunk), never O(archive). Mid-archive failure
keeps the already-yielded valid prefix (salvage semantics, same as the
WARC walk) and appends one ``error: ...`` truncation row. Hostile
archives hit the member-size cap, the member-count cap, or the
cumulative :data:`MAX_STREAM_BYTES` decompression-bomb guard — all
typed :class:`ArchiveError`.
"""
from __future__ import annotations

import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MAX_MEMBERS = 65536
MAX_MEMBER_BYTES = 1 << 26      # 64 MiB: the per-member memory bound
MAX_STREAM_BYTES = 1 << 34      # 16 GiB cumulative: decompression-bomb guard
MAX_7Z_BYTES = 1 << 30          # 1 GiB: 7z is whole-read (tail header)
CHUNK_ROWS = 8192               # rows per emitted pandas batch
CHUNK_BYTES = 1 << 25           # ... or 32 MiB of payload, whichever first


class ArchiveError(ValueError):
    """Malformed / hostile archive (the poison-pill contract)."""


def looks_like_zip(data: bytes) -> bool:
    return data[:4] == b"PK\x03\x04"


def looks_like_gzip(data: bytes) -> bool:
    return data[:2] == b"\x1f\x8b"


def looks_like_bzip2(data: bytes) -> bool:
    return data[:3] == b"BZh" and data[3:4].isdigit()


def looks_like_xz(data: bytes) -> bool:
    return data[:6] == b"\xfd7zXZ\x00"


def looks_like_tar(data: bytes) -> bool:
    return len(data) >= 263 and data[257:262] == b"ustar"


MEMBER_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("member_name", StringType()),
    StructField("member_idx", IntegerType()),
    StructField("kind", StringType()),
    StructField("payload", BinaryType()),
    StructField("n_bytes", LongType()),
    StructField("ok", StringType()),
])


class _Budget:
    """Cumulative decompressed-byte counter shared across one archive
    (nested .tar.gz counts both layers against the same guard)."""

    __slots__ = ("total",)

    def __init__(self) -> None:
        self.total = 0

    def add(self, n: int) -> None:
        self.total += n
        if self.total > MAX_STREAM_BYTES:
            raise ArchiveError("archive decompresses past the stream cap")


def _iter_zip(fileobj, budget: _Budget) -> Iterator[tuple[str, bytes]]:
    """Seekable zip stream → (name, bytes) one member at a time. The
    central directory is parsed once; each member decompresses on its
    own read, so only one member is ever in memory."""
    import zipfile

    try:
        zf = zipfile.ZipFile(fileobj)
        infos = zf.infolist()
    except Exception as exc:  # zipfile raises a zoo of types on bad input
        raise ArchiveError(f"bad zip: {exc}") from None
    if len(infos) > MAX_MEMBERS:
        raise ArchiveError(f"zip has {len(infos)} members (cap {MAX_MEMBERS})")
    for info in infos:
        if not info.filename:
            # stdlib is_dir() IndexErrors on empty names (fuzz-found);
            # an unnamed member is malformed anyway
            raise ArchiveError("zip member with empty name")
        if info.filename.endswith("/"):
            continue
        if info.file_size > MAX_MEMBER_BYTES:
            raise ArchiveError(
                f"member {info.filename!r} declares {info.file_size} bytes")
        try:
            with zf.open(info) as f:
                # +1 so a lying header (actual > declared) is detectable
                data = f.read(MAX_MEMBER_BYTES + 1)
        except Exception as exc:
            raise ArchiveError(
                f"bad zip member {info.filename!r}: {exc}") from None
        if len(data) > MAX_MEMBER_BYTES:
            raise ArchiveError(f"member {info.filename!r} overran its size")
        budget.add(len(data))
        yield info.filename, data


def _iter_tar(fileobj, budget: _Budget,
              mode: str = "r:") -> Iterator[tuple[str, bytes]]:
    """Tar stream → (name, bytes) one member at a time. ``r:`` walks a
    seekable plain tar; ``r|*`` walks ANY tar (plain or gz/bz2/xz
    compressed) forward-only — the file-front-door mode, which never
    needs the archive in memory."""
    import tarfile

    try:
        tf = tarfile.open(fileobj=fileobj, mode=mode)
    except Exception as exc:
        raise ArchiveError(f"bad tar: {exc}") from None
    n = 0
    try:
        for m in tf:  # member-at-a-time; getmembers() would scan ahead
            n += 1
            if n > MAX_MEMBERS:
                raise ArchiveError(f"tar exceeds {MAX_MEMBERS} members")
            if not m.isfile():
                continue
            if m.size > MAX_MEMBER_BYTES:
                raise ArchiveError(
                    f"member {m.name!r} declares {m.size} bytes")
            try:
                f = tf.extractfile(m)
                data = f.read() if f else b""
            except ArchiveError:
                raise
            except Exception as exc:
                raise ArchiveError(
                    f"bad tar member {m.name!r}: {exc}") from None
            budget.add(len(data))
            yield m.name, data
    except ArchiveError:
        raise
    except Exception as exc:  # tarfile raises while ITERATING on bad input
        raise ArchiveError(f"bad tar: {exc}") from None


def _gzip_name(header: bytes) -> str:
    """Recover the original filename from a gzip FNAME field (FLG bit 3,
    no FEXTRA) — the one piece of member metadata a plain .gz carries."""
    if len(header) > 10 and header[3] & 0x08 and not header[3] & 0x04:
        end = header.find(b"\x00", 10)
        if 10 < end < 10 + 4096:
            try:
                return header[10:end].decode("latin-1")
            except Exception:  # pragma: no cover — latin-1 can't fail
                pass
    return "member"


def _iter_stream_single(fileobj, opener, what: str, name: str,
                        budget: _Budget) -> Iterator[tuple[str, bytes]]:
    """gzip/bzip2/xz stream → inner tar members (a .tar.X) or the single
    decompressed member. The inner payload is sniffed from its first
    block WITHOUT materializing more than one member."""
    try:
        f = opener(fileobj)
        head = f.read(512)  # enough for the ustar magic at offset 257
        if looks_like_tar(head):
            # .tar.X: restart the compressed stream and let tarfile's
            # forward-only r|* mode walk it (no seeking, no whole-file)
            fileobj.seek(0)
            yield from _iter_tar(fileobj, budget, mode="r|*")
            return
        data = head + f.read(MAX_MEMBER_BYTES + 1 - len(head))
    except ArchiveError:
        raise
    except Exception as exc:
        raise ArchiveError(f"bad {what}: {exc}") from None
    if len(data) > MAX_MEMBER_BYTES:
        raise ArchiveError(f"{what} decompresses past the member cap")
    budget.add(len(data))
    yield name, data


def _iter_members(fileobj) -> Iterator[tuple[str, bytes]]:
    """Sniff a seekable archive stream and walk its members one at a
    time. Raises ArchiveError('not an archive') for unknown magic."""
    import bz2
    import gzip
    import lzma

    head = fileobj.read(512)
    if len(head) < 263:
        head += fileobj.read(263 - len(head))
    fileobj.seek(0)
    budget = _Budget()
    if looks_like_zip(head):
        yield from _iter_zip(fileobj, budget)
    elif looks_like_gzip(head):
        yield from _iter_stream_single(
            fileobj, lambda f: gzip.GzipFile(fileobj=f), "gzip",
            _gzip_name(head), budget)
    elif looks_like_bzip2(head):
        yield from _iter_stream_single(
            fileobj, bz2.BZ2File, "bzip2", "member", budget)
    elif looks_like_xz(head):
        yield from _iter_stream_single(
            fileobj, lzma.LZMAFile, "xz", "member", budget)
    elif head[:6] == b"7z\xbc\xaf\x27\x1c":
        yield from _iter_7z(fileobj, budget)
    elif looks_like_tar(head):
        yield from _iter_tar(fileobj, budget)
    elif head[:4] == b"\x28\xb5\x2f\xfd":
        # zstd frame magic — Common Crawl ships .warc.zst and mirrors
        # ship .tar.zst, but no zstd codec exists in this environment;
        # classify explicitly instead of the generic not-an-archive row
        raise ArchiveError(
            "zstd-compressed input (no zstd codec in this environment)")
    else:
        raise ArchiveError("not an archive")


def _iter_7z(fileobj, budget: _Budget) -> Iterator[tuple[str, bytes]]:
    """7z stream → (name, bytes). 7z's header lives at the archive TAIL
    and folders are solid, so the container is read whole (like zip's
    central directory, the random-access model is inherent); per-folder
    output is capped inside ops/sevenzip and members still flow through
    the shared budget/member caps."""
    from .sevenzip import SevenZipError, sevenzip_members

    # whole-read is inherent to 7z (tail header + solid folders), so
    # bound it explicitly: a crawl-scale .7z beyond the cap is a typed
    # error row, not an executor OOM
    blob = fileobj.read(MAX_7Z_BYTES + 1)
    if len(blob) > MAX_7Z_BYTES:
        raise ArchiveError(
            f"7z archive exceeds the {MAX_7Z_BYTES >> 20} MiB "
            f"whole-container cap")
    try:
        members = sevenzip_members(blob)
    except SevenZipError as exc:
        raise ArchiveError(f"bad 7z: {exc}") from None
    except NotImplementedError as exc:
        raise ArchiveError(f"unsupported 7z: {exc}") from None
    if len(members) > MAX_MEMBERS:
        raise ArchiveError(
            f"7z has {len(members)} members (cap {MAX_MEMBERS})")
    for name, data in members:
        if len(data) > MAX_MEMBER_BYTES:
            raise ArchiveError(
                f"member {name!r} is {len(data)} bytes (cap "
                f"{MAX_MEMBER_BYTES})")
        budget.add(len(data))
        yield name, data


def _zip_members(blob: bytes) -> list[tuple[str, bytes]]:
    """Whole-blob convenience: zip bytes → [(name, data)]."""
    return list(_iter_zip(io.BytesIO(blob), _Budget()))


def _tar_members(blob: bytes) -> list[tuple[str, bytes]]:
    """Whole-blob convenience: tar bytes → [(name, data)]."""
    return list(_iter_tar(io.BytesIO(blob), _Budget()))


def _gzip_members(blob: bytes) -> list[tuple[str, bytes]]:
    """Whole-blob convenience: gzip bytes → [(name, data)] (inner tar
    explodes; FNAME recovered for plain members)."""
    import gzip

    return list(_iter_stream_single(
        io.BytesIO(blob), lambda f: gzip.GzipFile(fileobj=f), "gzip",
        _gzip_name(blob[:4608]), _Budget()))


def _bzip2_members(blob: bytes) -> list[tuple[str, bytes]]:
    import bz2

    return list(_iter_stream_single(
        io.BytesIO(blob), bz2.BZ2File, "bzip2", "member", _Budget()))


def _xz_members(blob: bytes) -> list[tuple[str, bytes]]:
    import lzma

    return list(_iter_stream_single(
        io.BytesIO(blob), lzma.LZMAFile, "xz", "member", _Budget()))


def _stream_rows(ref: str, fileobj, sniff_kind) -> Iterator[list[tuple]]:
    """One archive stream → bounded member-row chunks; mid-archive
    failure keeps the valid prefix and appends ONE truncation row."""
    rows: list[tuple] = []
    nbytes = 0
    idx = 0
    try:
        for name, data in _iter_members(fileobj):
            kind = sniff_kind(name, data)
            rows.append((ref, name, idx, kind, data, len(data), "ok"))
            idx += 1
            nbytes += len(data)
            if len(rows) >= CHUNK_ROWS or nbytes >= CHUNK_BYTES:
                yield rows
                rows, nbytes = [], 0
    except ArchiveError as exc:
        if str(exc) == "not an archive":
            rows.append((ref, None, None, None, None, None, "not_archive"))
        else:
            rows.append((ref, None, idx if idx else None, None, None, None,
                         f"error: {exc}"))
    except Exception as exc:  # noqa: BLE001 — poison isolation
        rows.append((ref, None, idx if idx else None, None, None, None,
                     f"error: {type(exc).__name__}: {exc}"))
    if rows:
        yield rows


def _to_pdf(rows: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=[f.name for f in MEMBER_SCHEMA.fields])


def explode_archive(media: DataFrame) -> DataFrame:
    """Archive payloads → one row per member, with the member's sniffed
    kind (the same content sniff the CLI uses, marky.go:29 parity) so the
    convert pipeline can route each member without trusting names.
    Members stream out in bounded chunks — a 4k-member tarball never
    materializes its whole member list on the Python side."""
    from ..cli import sniff_kind

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                blob = bytes(payload) if payload is not None else b""
                for rows in _stream_rows(ref, io.BytesIO(blob), sniff_kind):
                    yield _to_pdf(rows)

    return media.select("media_ref", "payload").mapInPandas(
        batches, schema=MEMBER_SCHEMA)


def row_doc(row: tuple) -> tuple[str, str, bytes]:
    """An ``ok`` member row → ``(doc_id, kind, bytes)`` for the ingest
    door: doc_id = ``<archive_ref>/<member_name>``, kind the member's
    sniffed kind."""
    ref, name, _idx, kind, data, _n, _ok = row
    return f"{ref}/{name}", kind or "unknown", data


def synth_archive_media(docs: DataFrame) -> DataFrame:
    """Deterministic archive corpus over doc ids: doc i's UTF-8 text
    wrapped as (i % 4) → zip (deflate) / gzip / tar / 7z (ops/sevenzip
    writer — the coder rotates copy/LZMA/LZMA2/BZip2 by id and every
    third 7z id compresses its HEADER too), each with one member named
    ``doc<i>.txt``. Extraction must recover EXACTLY the text bytes, so
    the driver oracle pins all four container walks with ``md5(text)``
    arithmetic and no archive library on the SQL side."""
    import gzip
    import tarfile
    import zipfile

    from .sevenzip import sevenzip_write

    from .multimodal import MEDIA_SCHEMA

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(doc_id)
                data = str(text).encode("utf-8")
                name = f"doc{i}.txt"
                buf = io.BytesIO()
                if i % 4 == 3:
                    # coder_offset spreads the single-member corpus
                    # across all six coders (incl. both filter chains)
                    buf.write(sevenzip_write(
                        [(name, data)], encoded_header=i % 3 == 0,
                        coder_offset=i // 4))
                    mime = "application/x-7z-compressed"
                elif i % 3 == 0:
                    with zipfile.ZipFile(buf, "w",
                                         zipfile.ZIP_DEFLATED) as zf:
                        # fixed date_time keeps the corpus deterministic
                        info = zipfile.ZipInfo(name, (2020, 1, 1, 0, 0, 0))
                        info.compress_type = zipfile.ZIP_DEFLATED
                        zf.writestr(info, data)
                    mime = "application/zip"
                elif i % 3 == 1:
                    with gzip.GzipFile(fileobj=buf, mode="wb",
                                       filename=name, mtime=0) as gz:
                        gz.write(data)
                    mime = "application/gzip"
                else:
                    with tarfile.open(fileobj=buf, mode="w") as tf:
                        ti = tarfile.TarInfo(name)
                        ti.size = len(data)
                        ti.mtime = 0
                        tf.addfile(ti, io.BytesIO(data))
                    mime = "application/x-tar"
                rows.append((f"z{i}", mime, buf.getvalue()))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.select("doc_id", "text").mapInPandas(
        batches, schema=MEDIA_SCHEMA)
