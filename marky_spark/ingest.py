"""The ingest front door: directories of REAL files → the engine's
INPUT_SCHEMA, one composition per corpus layout.

The reference converts one file at a time from the CLI
(cmd/marky/main.go:15-51); at 100 TB the unit of input is a directory
(or bucket prefix) of crawl WARCs, archive bundles, mail archives, or
loose documents. These loaders are the distributed generalization —
each one lists files with Spark's ``binaryFile`` source and turns them
into the same ``(doc_id, spans)`` rows
:func:`marky_spark.convert.convert` eats, so ``spark.read`` → convert →
curate → sink is one declarative plan.

- :func:`docs_from_warc_dir` — ``.warc`` / ``.warc.gz`` crawl files
  (ops/warc), one doc per ``response`` record, doc_id = target URI.
- :func:`docs_from_archive_dir` — ``.zip`` / ``.tar[.gz|.bz2|.xz]`` /
  ``.7z`` bundles (ops/archive), one doc per member, doc_id =
  ``<file>/<member>``.
- :func:`docs_from_mbox_dir` — mbox mail archives (ops/mbox), one
  ``eml`` doc per message, doc_id = ``<file>#<idx>``.
- :func:`docs_from_dir` — loose documents (the reference's own input
  shape), one doc per file.

The three container doors share :func:`file_docs`: only the file path
rides through Spark (one round-robin ``repartition`` of the listing,
then ONE ``mapInPandas`` straight to INPUT_SCHEMA), and each worker
streams its file with the source's ``_stream_rows`` parser in
O(record) memory. Whatever a walk cannot produce — an unopenable path,
a stream truncation, a cap breach, a non-archive — becomes one
``{uri}#drop`` doc of kind ``_drop_<source>``, which convert turns
into an error row, so the metrics sink accounts for it. Every door
builds its span text with kernels/base.encode_payload (binary kinds
ride base64, the rest UTF-8), the same rule as the CLI.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .cli import sniff_kind
from .kernels.base import encode_payload
from .ops import archive, mbox, warc
from .schema import INPUT_SCHEMA

#: per-file cap for the loose-document loader: a single DOCUMENT past
#: this is almost certainly mislabeled bulk data (the archive/warc
#: loaders are the right door for those) — route to an error row, not
#: an executor OOM
MAX_DOC_BYTES = 1 << 28

#: source → (stream parser yielding row chunks whose last field is the
#: ``ok`` status, ok row → ``(doc_id, kind, bytes)`` or None to skip)
_SOURCES = {
    "warc": (warc._stream_rows, warc.row_doc),
    "archive": (lambda ref, f: archive._stream_rows(ref, f, sniff_kind),
                archive.row_doc),
    "mbox": (mbox._stream_rows, mbox.row_doc),
}


def _doc(doc_id: str, kind: str, data: bytes) -> tuple:
    return doc_id, [(kind, encode_payload(kind, data), None, 0)]


def _drop(ref: str, source: str, reason: str) -> tuple:
    return f"{ref}#drop", [(f"_drop_{source}", reason, None, 0)]


def _local_path(uri: str) -> str:
    """binaryFile path URIs → worker-openable paths. Plain and file:
    schemes open directly (POSIX / NFS / fuse mounts — the common
    cluster layouts); other schemes (s3a://, hdfs://) would go through
    an fsspec-style client and are rejected typed here."""
    if uri.startswith("file:"):
        path = uri[5:]
        while path.startswith("//"):  # file:///x and file://host/x forms
            path = path[1:]
        return path
    if "://" in uri:
        raise ValueError(f"unsupported path scheme for streaming: {uri!r}")
    return uri


def file_docs(uri: str, source: str) -> Iterator[list[tuple]]:
    """One container file → bounded chunks of INPUT_SCHEMA rows, with
    every non-ok walk row (and an unopenable path) as a drop doc."""
    stream_rows, row_doc = _SOURCES[source]
    try:
        f = open(_local_path(uri), "rb")  # noqa: SIM115 — closed below
    except (ValueError, OSError) as exc:
        yield [_drop(uri, source, f"error: {exc}")]
        return
    with f:
        for rows in stream_rows(uri, f):
            docs = []
            for row in rows:
                if row[-1] != "ok":
                    docs.append(_drop(row[0], source, row[-1]))
                elif (doc := row_doc(row)) is not None:
                    docs.append(_doc(*doc))
            if docs:
                yield docs


def _listing(spark: SparkSession, path: str, glob: str | None) -> DataFrame:
    reader = spark.read.format("binaryFile") \
        .option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def _stream_dir(spark: SparkSession, path: str, glob: str | None,
                source: str) -> DataFrame:
    """Directory → INPUT_SCHEMA docs in one Python stage. Only the path
    column is selected, so binaryFile never loads file contents; the
    listing is round-robined (hashing paths would distribute
    binomially) at 2 tasks/core so a slow file doesn't straggle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for uri in pdf["path"]:
                for docs in file_docs(str(uri), source):
                    yield pd.DataFrame(docs, columns=["doc_id", "spans"])

    n = max(spark.sparkContext.defaultParallelism * 2, 1)
    return _listing(spark, path, glob).select("path").repartition(n) \
        .mapInPandas(batches, schema=INPUT_SCHEMA)


def docs_from_warc_dir(spark: SparkSession, path: str,
                       glob: str = "*.warc*") -> DataFrame:
    """Directory of WARC crawl files → INPUT_SCHEMA docs (response
    records only, doc_id = target URI, kind sniffed from the HTTP body)."""
    return _stream_dir(spark, path, glob, "warc")


def docs_from_archive_dir(spark: SparkSession, path: str,
                          glob: str | None = None) -> DataFrame:
    """Directory of archive bundles → INPUT_SCHEMA docs
    (doc_id = ``<file>/<member>``, kind sniffed from the member)."""
    return _stream_dir(spark, path, glob, "archive")


def docs_from_mbox_dir(spark: SparkSession, path: str,
                       glob: str | None = None) -> DataFrame:
    """Directory of mbox mail archives → INPUT_SCHEMA docs (one ``eml``
    doc per message, doc_id = ``<file>#<idx>``)."""
    return _stream_dir(spark, path, glob or "*.mbox*", "mbox")


def docs_from_dir(spark: SparkSession, path: str,
                  glob: str | None = None) -> DataFrame:
    """Directory of loose documents → INPUT_SCHEMA docs.

    ``binaryFile`` loads (path, content); the CLI's magic-byte sniff
    (marky.go:29 parity — never trust extensions alone) routes each
    file. Spark packs small files into tasks via its own file-split
    planning, so a million 10 KB documents do not become a million
    tasks."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            docs = []
            for uri, content in zip(pdf["path"], pdf["content"]):
                uri, data = str(uri), bytes(content or b"")
                if len(data) > MAX_DOC_BYTES:
                    docs.append(_drop(uri, "binary",
                                      f"error: file is {len(data)} bytes "
                                      f"(cap {MAX_DOC_BYTES})"))
                else:
                    docs.append(_doc(uri, sniff_kind(uri, data) or "unknown",
                                     data))
            yield pd.DataFrame(docs, columns=["doc_id", "spans"])

    return _listing(spark, path, glob).select("path", "content") \
        .mapInPandas(batches, schema=INPUT_SCHEMA)


LOADERS = {
    "warc": docs_from_warc_dir,
    "archive": docs_from_archive_dir,
    "binary": docs_from_dir,
    "mbox": docs_from_mbox_dir,
}
