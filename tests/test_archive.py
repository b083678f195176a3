"""Archive explode (ops/archive): member walks for zip/gzip/tar(.gz),
bomb caps, hostile isolation, kind sniffing, and the Spark fan-out."""
from __future__ import annotations

import gzip
import io
import random
import struct
import tarfile
import zipfile

import pytest

from marky_spark.ops.archive import (
    MAX_MEMBER_BYTES,
    MAX_MEMBERS,
    ArchiveError,
    _gzip_members,
    _tar_members,
    _zip_members,
    explode_archive,
    looks_like_gzip,
    looks_like_tar,
    looks_like_zip,
)


def _zip_of(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return buf.getvalue()


def _tar_of(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in members.items():
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            tf.addfile(ti, io.BytesIO(data))
    return buf.getvalue()


def test_zip_members_and_dirs_skipped():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("d/", b"")
        zf.writestr("d/a.txt", b"alpha")
        zf.writestr("b.csv", b"x,y\n1,2")
    out = _zip_members(buf.getvalue())
    assert out == [("d/a.txt", b"alpha"), ("b.csv", b"x,y\n1,2")]


def test_gzip_single_member_and_targz_nesting():
    assert _gzip_members(gzip.compress(b"payload")) == [("member", b"payload")]
    inner = _tar_of({"x.txt": b"tar body"})
    assert _gzip_members(gzip.compress(inner)) == [("x.txt", b"tar body")]


def test_zip_declared_size_lie_is_caught():
    """A central-directory file_size smaller than the actual inflate output
    (the classic bomb shape) must be a typed error, not a giant buffer."""
    blob = bytearray(_zip_of({"a.bin": b"Z" * 4096}))
    # zipfile stores file_size in both local header and central directory;
    # extraction reads the central one — find and shrink it
    at = blob.rindex(b"a.bin") - 46 + 24  # central header: sizes at +20/+24
    struct.pack_into("<I", blob, at, 16)
    with pytest.raises(ArchiveError, match="overran|bad zip member"):
        _zip_members(bytes(blob))


def test_member_count_cap():
    # tar headers are cheap to fabricate: 4097 empty files
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for i in range(MAX_MEMBERS + 1):
            ti = tarfile.TarInfo(f"f{i}")
            ti.size = 0
            tf.addfile(ti)
    with pytest.raises(ArchiveError, match="members"):
        _tar_members(buf.getvalue())


def test_member_size_cap_precheck():
    """A tar member DECLARING more than the cap is rejected from its header
    alone (no allocation)."""
    ti = tarfile.TarInfo("huge")
    ti.size = MAX_MEMBER_BYTES + 1
    hdr = ti.tobuf()
    # tarfile may reject the truncated body during the header walk itself;
    # either way it is a typed error, never an allocation
    with pytest.raises(ArchiveError, match="declares|bad tar"):
        _tar_members(hdr + b"\x00" * 1024)


def test_truncated_archives_are_typed():
    good = _zip_of({"a.txt": b"hello world"})
    with pytest.raises(ArchiveError, match="bad zip"):
        _zip_members(good[:20])
    with pytest.raises(ArchiveError, match="bad gzip"):
        _gzip_members(gzip.compress(b"x" * 100)[:8])


def test_sniffs():
    assert looks_like_zip(b"PK\x03\x04rest")
    assert looks_like_gzip(b"\x1f\x8b\x08")
    assert looks_like_tar(_tar_of({"a": b"b"}))
    assert not looks_like_tar(b"ustar but too short")
    assert not looks_like_zip(b"PK\x01\x02")  # central dir only, no local


def test_spark_explode_fanout_and_kinds(spark):
    """One archive row fans out to N member rows with sniffed kinds; text
    blobs pass through as not_archive; hostile archives isolate."""
    arc = _zip_of({
        "page.html": b"<html><body><p>hi</p></body></html>",
        "table.csv": b"a,b\n1,2",
        "notes.txt": b"plain prose",
    })
    media = spark.createDataFrame(
        [("ok", bytearray(arc)),
         ("txt", bytearray(b"not an archive, just text")),
         ("bad", bytearray(b"PK\x03\x04" + b"\x00" * 30))],
        "media_ref string, payload binary")
    rows = explode_archive(media).collect()
    by_ref = {}
    for r in rows:
        by_ref.setdefault(r["media_ref"], []).append(r)
    members = {r["member_name"]: r for r in by_ref["ok"]}
    assert members["page.html"]["kind"] == "html"
    assert members["table.csv"]["kind"] == "csv"
    assert bytes(members["table.csv"]["payload"]) == b"a,b\n1,2"
    assert [r["member_idx"] for r in sorted(by_ref["ok"],
                                            key=lambda r: r["member_idx"])] \
        == [0, 1, 2]
    assert by_ref["txt"][0]["ok"] == "not_archive"
    assert by_ref["bad"][0]["ok"].startswith("error:")


def test_synth_archive_matches_oracle_arithmetic(spark):
    """The synthetic corpus really wraps each doc's text: member bytes ==
    text bytes for all four containers."""
    from marky_spark.ops.archive import synth_archive_media
    from marky_spark.ops.sevenzip import looks_like_7z, sevenzip_members

    docs = spark.createDataFrame(
        [(i, f"document body {i} with words") for i in range(12)],
        "doc_id long, text string")
    media = {r["media_ref"]: r for r in synth_archive_media(docs).collect()}
    for i in range(12):
        r = media[f"z{i}"]
        blob = bytes(r["payload"])
        expect = f"document body {i} with words".encode()
        if i % 4 == 3:
            assert r["mime"] == "application/x-7z-compressed"
            assert looks_like_7z(blob)
            assert sevenzip_members(blob) == [(f"doc{i}.txt", expect)]
        elif i % 3 == 0:
            assert r["mime"] == "application/zip" and looks_like_zip(blob)
            assert _zip_members(blob) == [(f"doc{i}.txt", expect)]
        elif i % 3 == 1:
            assert r["mime"] == "application/gzip" and looks_like_gzip(blob)
            assert _gzip_members(blob) == [(f"doc{i}.txt", expect)]
        else:
            assert r["mime"] == "application/x-tar" and looks_like_tar(blob)
            assert _tar_members(blob) == [(f"doc{i}.txt", expect)]
    # determinism: same docs → byte-identical archives
    again = {r["media_ref"]: bytes(r["payload"])
             for r in synth_archive_media(docs).collect()}
    assert all(bytes(media[k]["payload"]) == again[k] for k in again)


def test_archive_mutations_stay_typed():
    rng = random.Random(0xA2C)
    bases = [
        _zip_of({"a.txt": b"alpha" * 40, "b.txt": b"beta" * 40}),
        gzip.compress(b"gamma" * 100),
        _tar_of({"c.txt": b"delta" * 40}),
        gzip.compress(_tar_of({"d.txt": b"epsilon" * 40})),
    ]
    from tests.test_mutation_fuzz import _mutate
    for k in range(600):
        blob = _mutate(rng, bases[k % len(bases)])
        if not (looks_like_zip(blob) or looks_like_gzip(blob)
                or looks_like_tar(blob)):
            continue
        try:
            if looks_like_zip(blob):
                members = _zip_members(blob)
            elif looks_like_gzip(blob):
                members = _gzip_members(blob)
            else:
                members = _tar_members(blob)
        except ArchiveError:
            continue
        assert sum(len(d) for _, d in members) <= 1 << 28


def test_archive_to_convert_end_to_end(spark, tmp_path):
    """The full ingest composition: archive file → member walk →
    INPUT_SCHEMA docs → convert kernels → ordered Markdown, including a
    real binary member (the reference's own test.docx) riding the base64
    wire convention. The door is one Python stage, and convert adds no
    Exchange above its round-robin."""
    from marky_spark.convert import convert
    from marky_spark.ingest import docs_from_archive_dir

    docx = open("/root/reference/test_files/test.docx", "rb").read()
    (tmp_path / "arc0.zip").write_bytes(_zip_of({
        "page.html": b"<html><body><h1>Title</h1><p>body text</p></body></html>",
        "table.csv": b"a,b\n1,2",
        "doc.docx": docx,
        "broken.csv": b'a,b\n1,2,3',  # uneven row -> per-doc error row
    }))
    docs = docs_from_archive_dir(spark, str(tmp_path))
    out = {"arc0/" + r["doc_id"].rsplit("/", 1)[-1]: r
           for r in convert(docs).collect()}
    assert out["arc0/page.html"]["status"] == "ok"
    assert "# Title" in out["arc0/page.html"]["markdown"]
    assert out["arc0/table.csv"]["markdown"].startswith("| a | b |")
    assert out["arc0/doc.docx"]["status"] == "ok"
    assert out["arc0/doc.docx"]["conv_kind"] == "docx"
    assert len(out["arc0/doc.docx"]["markdown"]) > 100
    assert out["arc0/broken.csv"]["status"] == "error"
    door = docs._jdf.queryExecution().executedPlan().toString()
    assert door.count("MapInPandas") == 1 and "Union" not in door
    plan = convert(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == door.count("Exchange") == 1


def test_bzip2_and_xz_members():
    """bz2 / xz single-member and .tar.bz2 / .tar.xz nesting, plus typed
    truncation errors and bomb caps shared with the gzip path."""
    import bz2
    import lzma

    from marky_spark.ops.archive import (
        _bzip2_members,
        _xz_members,
        looks_like_bzip2,
        looks_like_xz,
    )

    assert looks_like_bzip2(bz2.compress(b"x"))
    assert looks_like_xz(lzma.compress(b"x"))
    assert not looks_like_bzip2(b"BZhx")  # level byte must be a digit
    assert _bzip2_members(bz2.compress(b"payload")) == [("member", b"payload")]
    assert _xz_members(lzma.compress(b"payload")) == [("member", b"payload")]
    inner = _tar_of({"n.txt": b"nested"})
    assert _bzip2_members(bz2.compress(inner)) == [("n.txt", b"nested")]
    assert _xz_members(lzma.compress(inner)) == [("n.txt", b"nested")]
    with pytest.raises(ArchiveError, match="bad bzip2"):
        _bzip2_members(bz2.compress(b"z" * 100)[:10])
    with pytest.raises(ArchiveError, match="bad xz"):
        _xz_members(lzma.compress(b"z" * 100)[:10])


def test_bzip2_xz_spark_routing(spark):
    import bz2
    import lzma

    media = spark.createDataFrame(
        [("b", bytearray(bz2.compress(b"bz body"))),
         ("x", bytearray(lzma.compress(b"xz body")))],
        "media_ref string, payload binary")
    rows = {r["media_ref"]: r for r in explode_archive(media).collect()}
    assert bytes(rows["b"]["payload"]) == b"bz body"
    assert bytes(rows["x"]["payload"]) == b"xz body"


def test_archive_dir_streams_real_files(spark, tmp_path):
    """The binaryFile front door: a directory of real .zip / .tar.gz /
    .tar.xz bundles → member docs → convert. Only the path rides
    through Spark; each worker streams its file member-at-a-time."""
    import lzma

    from marky_spark.convert import convert
    from marky_spark.ingest import docs_from_archive_dir

    (tmp_path / "book.zip").write_bytes(_zip_of({
        "ch1.html": b"<html><body><h1>One</h1><p>alpha</p></body></html>",
        "data.csv": b"a,b\n1,2",
    }))
    tar = _tar_of({"notes.txt": b"plain member text"})
    (tmp_path / "bundle.tar.gz").write_bytes(gzip.compress(tar))
    (tmp_path / "bundle.tar.xz").write_bytes(lzma.compress(tar))

    docs = docs_from_archive_dir(spark, str(tmp_path))
    rows = {tuple(r["doc_id"].rsplit("/", 2)[-2:]): r["spans"][0]
            for r in docs.collect()}
    assert rows[("book.zip", "data.csv")]["text"] == "a,b\n1,2"
    assert rows[("book.zip", "ch1.html")]["kind"] == "html"
    assert rows[("bundle.tar.gz", "notes.txt")]["text"] \
        == "plain member text"
    assert rows[("bundle.tar.xz", "notes.txt")]["text"] \
        == "plain member text"
    out = convert(docs).where("status = 'ok'")
    got = {r["doc_id"].rsplit("/", 1)[-1]: r["markdown"]
           for r in out.collect()}
    assert "# One" in got["ch1.html"]
    assert got["data.csv"].startswith("| a | b |")


def test_disk_targz_past_member_list_streams(tmp_path):
    """A real on-disk .tar.gz whose raw size (~300 MiB) exceeds the old
    whole-blob model walks member-at-a-time in bounded memory (tarfile
    r|* streaming mode — the file-front-door path)."""
    import tracemalloc

    from marky_spark.ops.archive import _stream_rows

    path = tmp_path / "big.tar.gz"
    member = bytes(1 << 20)  # 1 MiB of zeros: compresses hard
    with gzip.open(path, "wb", compresslevel=1) as gz, \
            tarfile.open(fileobj=gz, mode="w|") as tf:
        for i in range(300):
            ti = tarfile.TarInfo(f"m{i}.bin")
            ti.size = len(member)
            tf.addfile(ti, io.BytesIO(member))
    assert path.stat().st_size < (8 << 20)
    tracemalloc.start()
    count = 0
    with open(path, "rb") as f:
        for rows in _stream_rows("big", f, lambda n, d: "bin"):
            assert all(r[-1] == "ok" for r in rows)
            count += len(rows)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert count == 300
    assert 300 * len(member) > (256 << 20)
    assert peak < (96 << 20), f"peak {peak} bytes — not streaming"


def test_midarchive_corruption_salvages_prefix(tmp_path):
    """Salvage semantics: members before a corrupt region are kept; one
    trailing error row marks the truncation index."""
    from marky_spark.ops.archive import _stream_rows

    # two valid members followed by a third declaring a size past the cap
    # (tarfile itself treats garbage headers as EOF, so the typed
    # mid-walk failure is the cap breach); blocks are hand-concatenated
    # because tarfile pads archives to a 10 KiB record, burying anything
    # appended after its EOF marker
    def block(name: str, data: bytes) -> bytes:
        ti = tarfile.TarInfo(name)
        ti.size = len(data)
        return ti.tobuf() + data + b"\x00" * (-len(data) % 512)

    huge = tarfile.TarInfo("huge.bin")
    huge.size = MAX_MEMBER_BYTES + 1
    blob = (block("a.txt", b"alpha") + block("b.txt", b"beta")
            + huge.tobuf() + b"\x00" * 1024)
    chunks = list(_stream_rows("x", io.BytesIO(blob), lambda n, d: "txt"))
    rows = [r for c in chunks for r in c]
    assert [r[-1] for r in rows[:2]] == ["ok", "ok"]
    assert rows[0][4] == b"alpha" and rows[1][4] == b"beta"
    assert rows[2][-1].startswith("error:")
    assert rows[2][2] == 2


def test_zstd_classifies_explicitly():
    """Common Crawl .warc.zst / mirror .tar.zst: no zstd codec exists in
    this environment, so the magic classifies with a named typed error
    (an error row, not a silent not_archive pass-through)."""
    import io

    from marky_spark.ops.archive import ArchiveError, _Budget, _iter_members

    blob = b"\x28\xb5\x2f\xfd" + b"\x00" * 64
    with pytest.raises(ArchiveError, match="zstd"):
        list(_iter_members(io.BytesIO(blob)))


def test_zip64_past_4gib_offset_streams(tmp_path):
    """A zip64 archive whose second member's local header sits past the
    4 GiB line (sparse file — allocated blocks stay tiny) streams
    member-at-a-time through the disk front door at bounded memory:
    the central-directory walk must honor the zip64 EOCD + per-entry
    extra-field offsets instead of regressing to 32-bit fields."""
    import os
    import tracemalloc
    import zlib

    from marky_spark.ops.archive import _stream_rows

    path = tmp_path / "big64.zip"
    data_a = b"member before the 4 GiB line"
    data_b = b"member PAST the 4 GiB line"
    off_b = (4 << 30) + 0x1234  # > 0xFFFFFFFF

    def local_header(name: str, data: bytes) -> bytes:
        return struct.pack(
            "<IHHHHHIIIHH", 0x04034B50, 45, 0, 0, 0, 0,
            zlib.crc32(data), len(data), len(data),
            len(name), 0) + name.encode()

    with open(path, "wb") as f:
        f.write(local_header("a.txt", data_a) + data_a)
        f.seek(off_b)
        f.write(local_header("b.txt", data_b) + data_b)
        cd_off = f.tell()
        cd = b""
        for name, data, off in (("a.txt", data_a, 0),
                                ("b.txt", data_b, off_b)):
            if off > 0xFFFFFFFF:
                extra = struct.pack("<HHQ", 1, 8, off)
                off32 = 0xFFFFFFFF
            else:
                extra = b""
                off32 = off
            cd += struct.pack(
                "<IHHHHHHIIIHHHHHII", 0x02014B50, 45, 45, 0, 0, 0, 0,
                zlib.crc32(data), len(data), len(data), len(name),
                len(extra), 0, 0, 0, 0, off32) + name.encode() + extra
        f.write(cd)
        eocd64_off = f.tell()
        f.write(struct.pack("<IQHHIIQQQQ", 0x06064B50, 44, 45, 45,
                            0, 0, 2, 2, len(cd), cd_off))
        f.write(struct.pack("<IIQI", 0x07064B50, 0, eocd64_off, 1))
        f.write(struct.pack("<IHHHHIIH", 0x06054B50, 0, 0, 2, 2,
                            len(cd), 0xFFFFFFFF, 0))

    st = os.stat(path)
    assert st.st_size > (4 << 30)
    if st.st_blocks * 512 > (64 << 20):  # pragma: no cover
        pytest.skip("filesystem does not store sparse files")

    tracemalloc.start()
    got = {}
    with open(path, "rb") as f:
        for rows in _stream_rows("big64", f, lambda n, d: "bin"):
            for r in rows:
                assert r[-1] == "ok", r
                got[r[1]] = bytes(r[4])
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert got == {"a.txt": data_a, "b.txt": data_b}
    assert peak < (96 << 20), f"peak {peak} bytes — not streaming"
