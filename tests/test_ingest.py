"""The ingest front door (marky_spark/ingest.py): one binary-payload
rule and one streaming directory walk shared by every door."""
from __future__ import annotations

import base64
import io
import zipfile

import pytest

from marky_spark.kernels.base import BINARY_KINDS


def _zip_of(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return buf.getvalue()


def _response(uri: str, body: bytes) -> bytes:
    http = b"HTTP/1.1 200 OK\r\n\r\n" + body
    return (b"WARC/1.0\r\nWARC-Type: response\r\n"
            + f"WARC-Target-URI: {uri}\r\n".encode()
            + b"Content-Type: application/http;msgtype=response\r\n"
            + f"Content-Length: {len(http)}\r\n\r\n".encode()
            + http + b"\r\n\r\n")


def _door_plan_is_one_stage(docs) -> None:
    """One MapInPandas and no Union in the door; convert adds no
    Exchange above the door's own round-robin."""
    from marky_spark.convert import convert

    door = docs._jdf.queryExecution().executedPlan().toString()
    assert door.count("MapInPandas") == 1, door
    assert "Union" not in door, door
    plan = convert(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == door.count("Exchange") == 1, plan


def test_binary_kinds_are_the_base64_kernels():
    """The wire rule names exactly the kernels that reject non-base64
    span text."""
    from marky_spark.kernels import REGISTRY, ConvertError

    rejects = set()
    for kind, kernel in REGISTRY.items():
        try:
            kernel("plain text, not base64!")
        except ConvertError as exc:
            if "invalid base64 payload" in str(exc):
                rejects.add(kind)
    assert BINARY_KINDS == rejects


def _parity_files() -> dict[str, bytes]:
    from marky_spark.corpus import (
        _binary_variant,
        _pick_kind,
        extra_variant,
        make_synth_doc,
    )

    def text_of(kind: str) -> bytes:
        i = next(i for i in range(1000) if _pick_kind(i) == kind)
        return make_synth_doc(i)["spans"][0]["text"].encode()

    return {
        "doc.html": text_of("html"),
        "doc.csv": text_of("csv"),
        "doc.pdf": base64.b64decode(_binary_variant("pdf", 3)),
        "doc.docx": base64.b64decode(_binary_variant("docx", 5)),
        "doc.odt": base64.b64decode(extra_variant("odt", 2)),
    }


def test_every_door_gives_the_cli_markdown(spark, tmp_path):
    """The same file bytes convert to the same Markdown through the CLI,
    a loose directory, a zip member and a WARC response."""
    from marky_spark.cli import convert_file
    from marky_spark.convert import convert
    from marky_spark.ingest import (
        docs_from_archive_dir,
        docs_from_dir,
        docs_from_warc_dir,
    )

    files = _parity_files()
    loose, arc, crawl = (tmp_path / d for d in ("loose", "arc", "crawl"))
    for d in (loose, arc, crawl):
        d.mkdir()
    for name, data in files.items():
        (loose / name).write_bytes(data)
    (arc / "bundle.zip").write_bytes(_zip_of(files))
    (crawl / "c.warc").write_bytes(b"".join(
        _response(f"http://site/{name}", data)
        for name, data in files.items()))

    want = {name: convert_file(str(loose / name)) for name in files}
    assert all(want.values())
    for door, root in ((docs_from_dir, loose),
                       (docs_from_archive_dir, arc),
                       (docs_from_warc_dir, crawl)):
        rows = convert(door(spark, str(root))).collect()
        assert {r["status"] for r in rows} == {"ok"}, door.__name__
        got = {r["doc_id"].rsplit("/", 1)[-1]: r["markdown"] for r in rows}
        assert got == want, door.__name__


@pytest.mark.parametrize("source,ext", [("mbox", "mbox"), ("warc", "warc"),
                                        ("archive", "zip")])
def test_unstreamable_scheme_is_one_drop_doc(source, ext):
    """A path scheme the worker cannot open becomes exactly one drop
    doc, for every source, never a task failure."""
    from marky_spark.ingest import file_docs

    uri = f"s3a://b/x.{ext}"
    docs = [d for chunk in file_docs(uri, source) for d in chunk]
    assert len(docs) == 1
    doc_id, spans = docs[0]
    assert doc_id == f"{uri}#drop"
    assert spans[0][0] == f"_drop_{source}"
    assert spans[0][1].startswith("error: unsupported path scheme")


def test_archive_drops_are_accounted(spark, tmp_path):
    """A valid zip, a truncated zip and a plain text file: the members
    convert ok and each unreadable file is one typed drop row."""
    from marky_spark.convert import convert
    from marky_spark.ingest import docs_from_archive_dir

    good = _zip_of({"a.html": b"<h1>A</h1>", "b.csv": b"x,y\n1,2"})
    (tmp_path / "good.zip").write_bytes(good)
    (tmp_path / "trunc.zip").write_bytes(good[:len(good) // 2])
    (tmp_path / "notes.txt").write_bytes(b"just some text")

    out = convert(docs_from_archive_dir(spark, str(tmp_path))).toPandas()
    ok = out[out.status == "ok"]
    assert sorted(ok.doc_id.str.rsplit("/", n=1).str[-1]) == ["a.html",
                                                              "b.csv"]
    drops = out[out.conv_kind == "_drop_archive"]
    assert len(out) == 4 and len(drops) == 2
    assert set(drops.status) == {"error"}
    by_file = dict(zip(drops.doc_id.str.rsplit("/", n=1).str[-1],
                       drops.error))
    assert by_file["trunc.zip#drop"].startswith("error: ")
    assert by_file["notes.txt#drop"] == "not_archive"


def test_streaming_doors_are_one_python_stage(spark, tmp_path):
    """Each container door is one round-robin over the file listing and
    one mapInPandas to INPUT_SCHEMA: no second walk, no drop Union."""
    from marky_spark.ingest import (
        docs_from_archive_dir,
        docs_from_mbox_dir,
        docs_from_warc_dir,
    )

    (tmp_path / "a.warc").write_bytes(_response("http://a/", b"<p>a</p>"))
    (tmp_path / "a.zip").write_bytes(_zip_of({"m.txt": b"member"}))
    (tmp_path / "a.mbox").write_bytes(b"From x Mon\nSubject: s\n\nbody\n")
    for door in (docs_from_warc_dir, docs_from_archive_dir,
                 docs_from_mbox_dir):
        _door_plan_is_one_stage(door(spark, str(tmp_path)))
