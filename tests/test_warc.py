"""WARC record walk (ops/warc): grammar, HTTP split, gzip wrapping,
hostile rejection, mutation fuzz, Spark fan-out, synth determinism."""
from __future__ import annotations

import gzip
import io
import random

import pytest

from marky_spark.ops.warc import (
    MAX_RECORD_BYTES,
    WarcError,
    _parse_records,
    _split_http,
    looks_like_warc,
    warc_records,
)


def _record(rtype: str, block: bytes, extra: bytes = b"") -> bytes:
    return (b"WARC/1.0\r\n"
            + f"WARC-Type: {rtype}\r\n".encode() + extra
            + f"Content-Length: {len(block)}\r\n\r\n".encode()
            + block + b"\r\n\r\n")


def test_record_walk_and_http_split():
    body = b"the page text"
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    blob = (_record("warcinfo", b"software: x\r\n")
            + _record("response", http,
                      b"WARC-Target-URI: http://a/\r\n"
                      b"Content-Type: application/http;msgtype=response\r\n"))
    recs = _parse_records(blob)
    assert [r["type"] for r in recs] == ["warcinfo", "response"]
    assert recs[1]["uri"] == "http://a/"
    assert _split_http(recs[1]["block"]) == (200, body)


def test_split_http_non_http_passthrough():
    assert _split_http(b"raw bytes") == (None, b"raw bytes")
    assert _split_http(b"HTTP/1.1 no-terminator") == \
        (None, b"HTTP/1.1 no-terminator")


@pytest.mark.parametrize("mutate,msg", [
    (lambda b: b[:-6], "overruns|terminated"),
    (lambda b: b.replace(b"Content-Length", b"X-Length", 1),
     "Content-Length"),
    (lambda b: b.replace(b"WARC/1.0", b"HTTP/1.0", 1), "version"),
    (lambda b: b.replace(b"\r\n\r\n", b"\r\n", 1), "header|Content-Length"),
])
def test_hostile_warcs_typed(mutate, msg):
    blob = _record("resource", b"abc")
    with pytest.raises(WarcError, match=msg):
        _parse_records(mutate(blob))


def test_record_count_cap(monkeypatch):
    from marky_spark.ops import warc as warc_mod

    monkeypatch.setattr(warc_mod, "MAX_RECORDS", 100)
    blob = _record("resource", b"") * 101
    with pytest.raises(WarcError, match="records"):
        _parse_records(blob)


def test_sniff():
    assert looks_like_warc(_record("resource", b"x"))
    assert looks_like_warc(gzip.compress(_record("resource", b"x")))
    assert not looks_like_warc(b"HTTP/1.1 200 OK\r\n")
    assert not looks_like_warc(gzip.compress(b"just gzipped text"))


def test_spark_fanout_plain_and_gzip(spark):
    body = b"crawled text body"
    http = b"HTTP/1.1 404 Not Found\r\n\r\n" + body
    blob = _record("response", http,
                   b"WARC-Target-URI: http://b/\r\n"
                   b"Content-Type: application/http;msgtype=response\r\n")
    media = spark.createDataFrame(
        [("plain", bytearray(blob)),
         ("gz", bytearray(gzip.compress(blob))),
         ("txt", bytearray(b"not warc at all")),
         ("bad", bytearray(b"WARC/1.0\r\ngarbage"))],
        "media_ref string, payload binary")
    rows = {(r["media_ref"], r["record_idx"]): r
            for r in warc_records(media).collect()}
    for ref in ("plain", "gz"):
        r = rows[(ref, 0)]
        assert r["ok"] == "ok" and r["warc_type"] == "response"
        assert r["http_status"] == 404
        assert bytes(r["payload"]) == body
        assert r["target_uri"] == "http://b/"
    assert rows[("txt", None)]["ok"] == "not_warc"
    assert rows[("bad", None)]["ok"].startswith("error:")


def test_synth_matches_oracle_arithmetic(spark):
    from marky_spark.ops.warc import synth_warc_media

    docs = spark.createDataFrame(
        [(i, f"body of doc {i}") for i in range(4)],
        "doc_id long, text string")
    out = warc_records(synth_warc_media(docs)).where("warc_type = 'response'")
    rows = {r["media_ref"]: r for r in out.collect()}
    for i in range(4):
        r = rows[f"wc{i}"]  # 'wc' prefix: disjoint from synth_wav 'w{i}'
        assert bytes(r["payload"]) == f"body of doc {i}".encode()
        assert r["http_status"] == 200
        assert r["target_uri"] == f"http://synth/{i}"
    # determinism
    a = {r["media_ref"]: bytes(r["payload"])
         for r in synth_warc_media(docs).collect()}
    b = {r["media_ref"]: bytes(r["payload"])
         for r in synth_warc_media(docs).collect()}
    assert a == b


def test_warc_mutations_stay_typed():
    from tests.test_mutation_fuzz import _mutate

    rng = random.Random(0x3A2C)
    body = b"HTTP/1.1 200 OK\r\n\r\n" + b"text " * 50
    base = (_record("warcinfo", b"software: t\r\n")
            + _record("response", body,
                      b"Content-Type: application/http;msgtype=response\r\n"))
    bases = [base, gzip.compress(base)]
    for k in range(800):
        blob = _mutate(rng, bases[k % 2])
        if blob[:2] == b"\x1f\x8b":
            try:
                with gzip.GzipFile(fileobj=io.BytesIO(blob)) as f:
                    blob = f.read(1 << 28)
            except Exception:
                continue
        if not blob.startswith(b"WARC/"):
            continue
        try:
            recs = _parse_records(blob)
        except WarcError:
            continue
        assert all(len(r["block"]) <= MAX_RECORD_BYTES for r in recs)


class _RepeatRaw(io.RawIOBase):
    """A virtual stream repeating one chunk N times — lets a test present
    hundreds of MiB to the record walk without ever allocating them."""

    def __init__(self, chunk: bytes, n: int) -> None:
        self.chunk, self.total, self.pos = chunk, len(chunk) * n, 0

    def readable(self) -> bool:
        return True

    def readinto(self, b) -> int:
        if self.pos >= self.total:
            return 0
        off = self.pos % len(self.chunk)
        take = min(len(b), len(self.chunk) - off, self.total - self.pos)
        b[:take] = self.chunk[off:off + take]
        self.pos += take
        return take


def test_streaming_walk_is_memory_bounded():
    """600 MiB of records (far past the old 256 MiB whole-blob cap) walk
    with O(record) peak memory — the 100 TB contract: a crawl WARC never
    materializes."""
    import tracemalloc

    from marky_spark.ops.warc import _iter_records

    body = b"HTTP/1.1 200 OK\r\n\r\n" + b"z" * (1 << 20)  # ~1 MiB record
    rec = _record("response", body,
                  b"Content-Type: application/http;msgtype=response\r\n")
    n = (600 << 20) // len(rec) + 1  # ≥600 MiB virtual stream
    stream = io.BufferedReader(_RepeatRaw(rec, n), buffer_size=1 << 16)
    tracemalloc.start()
    count = 0
    for r in _iter_records(stream):
        assert len(r["block"]) == len(body)
        count += 1
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert count == n
    assert count * len(rec) > (600 << 20)
    assert peak < (32 << 20), f"peak {peak} bytes — not streaming"


def test_disk_warc_past_old_cap_streams(tmp_path):
    """A REAL on-disk .warc.gz whose raw size (~300 MiB) exceeds the old
    whole-blob cap ingests record-at-a-time in bounded memory."""
    import gzip
    import tracemalloc

    from marky_spark.ops.warc import _stream_rows

    body = b"HTTP/1.1 200 OK\r\n\r\n" + bytes(1 << 20)  # compresses hard
    rec = _record("response", body,
                  b"WARC-Target-URI: http://big/\r\n"
                  b"Content-Type: application/http;msgtype=response\r\n")
    n = 300
    path = tmp_path / "big.warc.gz"
    with gzip.open(path, "wb", compresslevel=1) as gz:
        for _ in range(n):
            gz.write(rec)
    assert path.stat().st_size < (4 << 20)  # tiny on disk, huge raw
    tracemalloc.start()
    count = 0
    with open(path, "rb") as f:
        for rows in _stream_rows("big", f):
            assert all(r[-1] == "ok" for r in rows)
            count += len(rows)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert count == n
    assert n * len(rec) > (256 << 20)  # raw stream exceeds the old cap
    assert peak < (96 << 20), f"peak {peak} bytes — not streaming"


def test_midstream_corruption_salvages_prefix():
    """Stream-truncation semantics: records before a malformed one are
    kept (a crawl salvages its valid prefix); one trailing error row
    marks the truncation point and index."""
    from marky_spark.ops.warc import _stream_rows

    good = _record("resource", b"first") + _record("resource", b"second")
    blob = good + b"WARC/1.0\r\ngarbage without headers"
    chunks = list(_stream_rows("x", io.BytesIO(blob)))
    rows = [r for c in chunks for r in c]
    assert [r[8] for r in rows[:2]] == ["ok", "ok"]
    assert rows[0][6] == b"first" and rows[1][6] == b"second"
    assert rows[2][8].startswith("error:")
    assert rows[2][1] == 2  # truncation index: after two good records


def test_records_from_dir_streams_real_files(spark, tmp_path):
    """The binaryFile front door: a directory of real .warc / .warc.gz
    files (one bigger than a yield chunk) → docs → convert. Only the
    path rides through Spark; payload bytes never do."""
    import gzip

    from marky_spark.convert import convert
    from marky_spark.ingest import docs_from_warc_dir

    def page(i: int) -> bytes:
        html = (f"<html><body><h1>Page {i}</h1><p>body text {i}</p>"
                f"</body></html>").encode()
        return _record(
            "response", b"HTTP/1.1 200 OK\r\n\r\n" + html,
            f"WARC-Target-URI: http://site/{i}\r\n".encode()
            + b"Content-Type: application/http;msgtype=response\r\n")

    # file 1: gzipped, 600 records (> one 256-row yield chunk)
    with gzip.open(tmp_path / "a.warc.gz", "wb") as gz:
        for i in range(600):
            gz.write(page(i))
    # file 2: plain, 5 records
    with open(tmp_path / "b.warc", "wb") as f:
        for i in range(600, 605):
            f.write(page(i))
    # decoy that must not match the glob
    (tmp_path / "notes.txt").write_bytes(b"not a warc")

    docs = docs_from_warc_dir(spark, str(tmp_path))
    assert docs.where("doc_id NOT LIKE '%#drop'").count() == 605
    out = convert(docs).where("status = 'ok'")
    assert out.count() == 605
    one = out.where("doc_id = 'http://site/42'").collect()[0]
    assert "# Page 42" in one["markdown"]


def test_warc_to_convert_end_to_end(spark, tmp_path):
    """The crawl composition: WARC file → record walk → INPUT_SCHEMA
    docs → convert kernels → Markdown with boilerplate stripped, the
    exact shape of a Common-Crawl text-extraction job. The door is one
    Python stage, and convert adds no Exchange above its round-robin."""
    from marky_spark.convert import convert
    from marky_spark.ingest import docs_from_warc_dir

    html = (b"<html><head><script>junk()</script></head><body>"
            b"<h1>Crawl Title</h1><p>real body text</p>"
            b"<nav><a href='/a'>a</a><a href='/b'>b</a><a href='/c'>c</a>"
            b"<a href='/d'>d</a></nav></body></html>")
    csv_body = b"x,y\n3,4"
    blob = (_record("response",
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                    + html,
                    b"WARC-Target-URI: http://site/page\r\n"
                    b"Content-Type: application/http;msgtype=response\r\n")
            + _record("response",
                      b"HTTP/1.1 200 OK\r\n\r\n" + csv_body,
                      b"WARC-Target-URI: http://site/data.csv\r\n"
                      b"Content-Type: application/http;msgtype=response\r\n"))
    (tmp_path / "crawl0.warc").write_bytes(blob)
    docs = docs_from_warc_dir(spark, str(tmp_path))
    out = {r["doc_id"]: r for r in convert(docs).collect()}
    page = out["http://site/page"]
    assert page["status"] == "ok" and page["conv_kind"] == "html"
    assert "# Crawl Title" in page["markdown"]
    assert "real body text" in page["markdown"]
    assert "junk()" not in page["markdown"]  # script stripped
    data = out["http://site/data.csv"]
    assert data["status"] == "ok" and data["conv_kind"] == "csv"
    assert data["markdown"].startswith("| x | y |")
    door = docs._jdf.queryExecution().executedPlan().toString()
    assert door.count("MapInPandas") == 1 and "Union" not in door
    plan = convert(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == door.count("Exchange") == 1


def test_crawl_to_curated_corpus_end_to_end(spark, tmp_path):
    """THE pipeline this engine exists for, in one chain: WARC crawl
    archives → record walk → convert (boilerplate stripped) → curate
    (quality filter + lang-id + exact dedup + sampling) → training rows.
    Exact duplicates across different URLs collapse; junk pages filter."""
    from marky_spark.convert import convert
    from marky_spark.ingest import docs_from_warc_dir
    from marky_spark.ops.curate import curate

    page = (b"<html><body><h1>The Quick Study</h1>"
            + b"<p>the quick brown fox jumps over the lazy dog and the "
            + b"words keep flowing with many common stopwords because "
            + b"this is a real enough paragraph of english prose that "
            + b"the quality scorer and the language model both have "
            + b"something to work with here today</p>" * 3
            + b"</body></html>")
    junk = b"<html><body><p>!!!! ???? ++++</p></body></html>"
    recs = []
    for k, (uri, body) in enumerate([
        ("http://a/page", page),
        ("http://b/mirror-of-a", page),       # exact dup, different URL
        ("http://c/junk", junk),
    ]):
        recs.append(_record(
            "response", b"HTTP/1.1 200 OK\r\n\r\n" + body,
            f"WARC-Target-URI: {uri}\r\n".encode()
            + b"Content-Type: application/http;msgtype=response\r\n"))
    (tmp_path / "crawl.warc").write_bytes(b"".join(recs))
    docs = docs_from_warc_dir(spark, str(tmp_path))
    out = curate(docs, rates={"en": 1.0}, default_rate=1.0,
                 min_quality_bp=1500)
    rows = {r["doc_id"]: r for r in out.collect()}
    # the duplicate collapsed to the smallest doc_id; junk filtered
    assert set(rows) == {"http://a/page"}
    r = rows["http://a/page"]
    assert r["pred_lang"] == "en"
    assert r["quality_score_bp"] >= 1500
    assert "# The Quick Study" in r["markdown"]
    # and the whole chain is still one shuffle-light plan: the only
    # exchanges are curate's dedup window (plus AQE shuffle reads)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2, plan
