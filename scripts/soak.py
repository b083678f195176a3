"""Durability soak: the FULL ingest chain at millions-of-docs scale.

Round-4 protocol (extends the 1M/2M span-table soaks that predate the
file front door): real ``.warc.gz`` crawl files on disk → streaming
record walk (``ingest.docs_from_warc_dir``, O(record) memory) → convert via
the bucketed resumable job (one INJECTED CRASH mid-run + resume) →
exactly-once verification → small-file compaction → the curate chain
(quality + lang-id + exact dedup + sampling) over the same crawl.

Every record's HTML body converts ok by construction, and one corrupt
WARC file is planted so the drop-accounting path (``_drop_warc`` →
metrics view) is exercised at scale, not just in unit tests.

Usage:
    python scripts/soak.py [n_docs] [n_files] [cores]
        (defaults: 4_000_000 docs across 64 files on local[32])

Prints one JSON line; paste the numbers into BENCH/BASELINE.md.
"""
from __future__ import annotations

import gzip
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Spark Python workers import marky_spark too: they inherit PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(
    [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

_WORDS = ("the quick brown fox jumps over a lazy dog and then walks "
          "back home with many common english stopwords because this "
          "is real enough prose for the quality scorer and language "
          "model to work with here today").split()


def _body(i: int) -> bytes:
    ws = " ".join(_WORDS[(i + k) % len(_WORDS)] for k in range(28))
    return (f"<html><head><title>Doc {i}</title></head><body>"
            f"<h1>Doc {i}</h1><p>{ws}</p><p>{ws}</p></body>"
            f"</html>").encode()


def _record(uri: str, body: bytes) -> bytes:
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    return (b"WARC/1.0\r\nWARC-Type: response\r\n"
            + f"WARC-Target-URI: {uri}\r\n".encode()
            + b"Content-Type: application/http;msgtype=response\r\n"
            + f"Content-Length: {len(http)}\r\n\r\n".encode()
            + http + b"\r\n\r\n")


def build_crawl(root: str, n_docs: int, n_files: int) -> float:
    os.makedirs(root, exist_ok=True)
    t0 = time.time()
    per = -(-n_docs // n_files)
    doc = 0
    for f in range(n_files):
        path = os.path.join(root, f"part{f:04d}.warc.gz")
        with gzip.open(path, "wb", compresslevel=1) as gz:
            for _ in range(min(per, n_docs - doc)):
                gz.write(_record(f"http://soak/{doc}", _body(doc)))
                doc += 1
    # one corrupt file: drop accounting must surface it in the metrics
    with open(os.path.join(root, "corrupt.warc"), "wb") as f:
        f.write(b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999"
                b"\r\n\r\ntruncated")
    return time.time() - t0


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    crawl = os.environ.get("SOAK_CRAWL_DIR", "/tmp/soak_crawl")
    out = os.environ.get("SOAK_OUT_DIR", "/tmp/soak_out")
    shutil.rmtree(crawl, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)

    gen_sec = build_crawl(crawl, n_docs, n_files)
    crawl_bytes = sum(os.path.getsize(os.path.join(crawl, p))
                      for p in os.listdir(crawl))

    from pyspark.sql import functions as F

    from marky_spark.ingest import docs_from_warc_dir
    from marky_spark.pipeline import (
        compact_output,
        job_stats,
        read_output,
        run_convert_job,
    )
    from marky_spark.session import get_spark

    spark = get_spark(app="soak", master=f"local[{cores}]", confs={
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(cores * 2),
    })
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.storagelevel import StorageLevel

    # stage the ingest ONCE: the wave loop filters on a computed bucket
    # column, which cannot prune the file scan — without staging, every
    # wave would re-gunzip and re-parse all 64 crawl files (8x ingest).
    # At cluster scale this is a staging-table write; locally persist.
    docs = docs_from_warc_dir(spark, crawl) \
        .persist(StorageLevel.MEMORY_AND_DISK)

    # phase 1: convert with an injected crash after 2 committed waves
    t0 = time.time()
    crashed = False
    try:
        run_convert_job(spark, docs, out, n_buckets=64, waves=8,
                        fail_after_wave=2)
    except RuntimeError as exc:
        crashed = "injected failure" in str(exc)
    assert crashed, "crash injection did not fire"

    # phase 2: resume to completion
    results = run_convert_job(spark, docs, out, n_buckets=64, waves=8)
    convert_sec = time.time() - t0
    resumed_docs = sum(r.n_docs for r in results)

    # exactly-once verification over the committed output
    final = read_output(spark, out)
    agg = final.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("doc_id").alias("d"),
        F.sum((F.col("status") == "ok").cast("long")).alias("ok"),
        F.sum((F.col("status") != "ok").cast("long")).alias("err"),
    ).collect()[0]
    # n_docs converted pages + exactly ONE _drop_warc row from the
    # planted corrupt file — nothing lost, nothing doubled
    assert agg["n"] == n_docs + 1, (agg["n"], n_docs)
    assert agg["d"] == n_docs + 1
    assert agg["ok"] == n_docs and agg["err"] == 1
    metrics = job_stats(spark, out)[1]
    drops = {r["conv_kind"]: r["n"] for r in
             metrics.groupBy("conv_kind")
             .agg(F.sum("n_docs").alias("n")).collect()}
    assert drops.get("_drop_warc") == 1, drops

    # phase 3: compaction
    t1 = time.time()
    compaction = compact_output(spark, out)
    compact_sec = time.time() - t1

    # phase 4: the curate chain over the same crawl (quality + lang-id +
    # exact dedup + deterministic sampling), end to end from disk
    from marky_spark.ops.curate import curate

    t2 = time.time()
    curated = curate(docs_from_warc_dir(spark, crawl),
                     rates={"en": 1.0}, default_rate=1.0,
                     min_quality_bp=1000).count()
    curate_sec = time.time() - t2

    print(json.dumps({
        "n_docs": n_docs,
        "n_files": n_files + 1,
        "crawl_gib": round(crawl_bytes / (1 << 30), 3),
        "gen_sec": round(gen_sec, 1),
        "convert_sec": round(convert_sec, 1),
        "docs_per_sec": round((n_docs + 1) / convert_sec, 1),
        "resumed_docs": resumed_docs,
        "exactly_once": True,
        "drop_rows": 1,
        "compaction": compaction,
        "compact_sec": round(compact_sec, 1),
        "curated_rows": curated,
        "curate_sec": round(curate_sec, 1),
        "cores": cores,
    }))
    spark.stop()
    shutil.rmtree(crawl, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
