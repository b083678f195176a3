"""Iceberg DDL shape + storage routing + the spark-submit CLI driver."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_ddl_shapes():
    from marky_spark.iceberg import (
        input_table_ddl,
        lineage_table_ddl,
        output_table_ddl,
        resume_filter_sql,
    )

    ddl = input_table_ddl(n_buckets=512)
    assert "USING iceberg" in ddl
    assert "PARTITIONED BY (bucket(512, doc_id))" in ddl
    assert "spans  ARRAY<STRUCT<kind: STRING, text: STRING, media_ref: STRING, offset: INT>>" in ddl

    out = output_table_ddl()
    assert "bucket(1024, doc_id)" in out and "markdown    STRING" in out
    assert "USING iceberg" in lineage_table_ddl()
    assert "VERSION AS OF 42" in resume_filter_sql("t", 42)


def test_write_routing_falls_back_to_parquet(spark, tmp_path):
    from marky_spark.iceberg import iceberg_available, write_output
    from marky_spark.pipeline import SnapshotStore

    assert iceberg_available(spark) is False  # no Iceberg jar in sandbox
    df = spark.range(5).selectExpr("cast(id as string) as doc_id")
    out = str(tmp_path / "o")
    sc = spark.sparkContext
    sc.setJobGroup("write-output", "write_output")
    try:
        mode = write_output(df, spark, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert mode == "parquet"
    # the write returns the commit's totals: one Spark job, one wave dir
    assert len(sc.statusTracker().getJobIdsForGroup("write-output")) == 1
    store = SnapshotStore(out)
    manifest = store.read()
    (wave,) = store.committed_dirs()
    # fallback commits the pipeline layout: a wave of bucketed parquet +
    # its snapshot
    written = spark.read.parquet(wave)
    assert written.count() == 5
    assert "bucket" in written.columns
    # the snapshot commits exactly the written buckets and their row count
    assert manifest["committed_buckets"] == sorted(
        r["bucket"] for r in written.select("bucket").distinct().collect())
    assert manifest["snapshots"][-1]["stats"] == {"n_docs": 5,
                                                  "writer": "write_output"}


def test_cli_driver_end_to_end(tmp_path):
    """Drive scripts/convert_job.py as a real subprocess (O27 parity)."""
    corpus_dir = str(tmp_path / "corpus")
    out_dir = str(tmp_path / "out")

    # stage a small corpus with a helper process
    code = (
        "import sys; sys.path.insert(0, %r);"
        "from marky_spark.session import get_spark;"
        "from marky_spark.corpus import spark_corpus;"
        "s = get_spark(master='local[2]', confs={'spark.ui.enabled':'false'});"
        "spark_corpus(s, 80, partitions=2).write.parquet(%r); s.stop()"
    ) % (REPO, corpus_dir)
    subprocess.run([sys.executable, "-c", code], check=True,
                   capture_output=True, cwd=REPO, timeout=300)

    proc = subprocess.run(
        [sys.executable, "scripts/convert_job.py",
         "--input", corpus_dir, "--output", out_dir,
         "--buckets", "8", "--waves", "2", "--local", "4", "--compact"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-1500:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["docs"] == 80 and result["errors"] == 0
    # --compact rewrote the multi-file wave output down to one file/wave
    assert result["compaction"]["waves"] >= 1
    assert result["compaction"]["files_after"] < result["compaction"]["files_before"]

    # resume: second run is a no-op
    proc2 = subprocess.run(
        [sys.executable, "scripts/convert_job.py",
         "--input", corpus_dir, "--output", out_dir,
         "--buckets", "8", "--waves", "2", "--local", "4"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    result2 = json.loads(proc2.stdout.strip().splitlines()[-1])
    assert result2["resumed"] is True and result2["docs"] == 0

    # each run rewrites lineage/ and metrics/ from the committed output:
    # one lineage row per output file, and a rerun does not add rows
    import glob

    import pyarrow.parquet as pq

    for name in ("lineage", "metrics"):
        assert sum(pq.read_table(f"{out_dir}/{name}")
                   .column("n_docs").to_pylist()) == 80, name
    from marky_spark.pipeline import SnapshotStore

    assert pq.read_table(f"{out_dir}/lineage").num_rows == sum(
        len(glob.glob(f"{d}/*.parquet"))
        for d in SnapshotStore(out_dir).committed_dirs())


def test_cli_missing_input_exits_1():
    proc = subprocess.run(
        [sys.executable, "scripts/convert_job.py",
         "--input", "/nope/missing", "--output", "/tmp/x",
         "--local", "2"],
        capture_output=True, text=True, cwd=REPO, timeout=180,
    )
    assert proc.returncode == 1
    assert "does not exist" in proc.stderr


def test_cli_warc_front_door_end_to_end(tmp_path):
    """convert_job --input-format warc: a directory of real .warc.gz
    crawl files flows through the streaming record walk into the full
    resumable pipeline — the spark-submit shape of a Common Crawl job."""
    import gzip

    crawl_dir = tmp_path / "crawl"
    crawl_dir.mkdir()

    def record(uri: str, body: bytes) -> bytes:
        http = b"HTTP/1.1 200 OK\r\n\r\n" + body
        return (b"WARC/1.0\r\nWARC-Type: response\r\n"
                + f"WARC-Target-URI: {uri}\r\n".encode()
                + b"Content-Type: application/http;msgtype=response\r\n"
                + f"Content-Length: {len(http)}\r\n\r\n".encode()
                + http + b"\r\n\r\n")

    for f in range(2):
        with gzip.open(crawl_dir / f"part{f}.warc.gz", "wb") as gz:
            for i in range(20):
                gz.write(record(
                    f"http://site/{f}/{i}",
                    f"<html><body><h1>Doc {f}.{i}</h1><p>text body "
                    f"{i}</p></body></html>".encode()))

    out_dir = str(tmp_path / "out")
    proc = subprocess.run(
        [sys.executable, "scripts/convert_job.py",
         "--input", str(crawl_dir), "--input-format", "warc",
         "--output", out_dir, "--buckets", "4", "--waves", "1",
         "--local", "4"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-1500:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["docs"] == 40 and result["errors"] == 0
