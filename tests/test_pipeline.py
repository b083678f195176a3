"""Resumable bucketed job: crash → restart → complete, no dupes, no loss."""

import pytest

from marky_spark.corpus import spark_corpus
from marky_spark.pipeline import (
    SnapshotStore,
    read_output,
    run_convert_job,
    skew_balanced,
)

N_DOCS = 240


def test_crash_resume_completes_without_dupes(spark, tmp_path):
    out_dir = str(tmp_path / "job")
    corpus = spark_corpus(spark, N_DOCS, partitions=4)

    # first run crashes after 1 committed wave
    with pytest.raises(RuntimeError, match="injected failure"):
        run_convert_job(spark, corpus, out_dir, n_buckets=16, waves=4,
                        partitions=4, fail_after_wave=1)
    committed_1 = SnapshotStore(out_dir).committed_buckets()
    assert 0 < len(committed_1) < 16
    partial = read_output(spark, out_dir)
    n_partial = partial.count()
    assert 0 < n_partial < N_DOCS

    # restart: only remaining buckets are processed
    results = run_convert_job(spark, corpus, out_dir, n_buckets=16, waves=4,
                              partitions=4)
    done = sum(r.n_docs for r in results)
    assert done == N_DOCS - n_partial  # no recomputation of committed work

    final = read_output(spark, out_dir)
    assert final.count() == N_DOCS
    assert final.select("doc_id").distinct().count() == N_DOCS  # no dupes
    assert SnapshotStore(out_dir).committed_buckets() == set(range(16))


def test_rerun_on_complete_job_is_noop(spark, tmp_path):
    out_dir = str(tmp_path / "job2")
    corpus = spark_corpus(spark, 60, partitions=2)
    run_convert_job(spark, corpus, out_dir, n_buckets=4, waves=2, partitions=2)
    again = run_convert_job(spark, corpus, out_dir, n_buckets=4, waves=2,
                            partitions=2)
    assert again == []
    assert read_output(spark, out_dir).count() == 60


def test_lineage_and_metrics_written(spark, tmp_path):
    out_dir = str(tmp_path / "job3")
    corpus = spark_corpus(spark, 80, partitions=2)
    run_convert_job(spark, corpus, out_dir, n_buckets=4, waves=1, partitions=2)

    lineage = spark.read.parquet(f"{out_dir}/lineage")
    assert lineage.groupBy().sum("n_docs").collect()[0][0] == 80
    metrics = spark.read.parquet(f"{out_dir}/metrics")
    rows = {(r["conv_kind"], r["status"]): r["n_docs"] for r in metrics.collect()}
    assert sum(rows.values()) == 80
    assert all(status == "ok" for (_, status) in rows)


def test_commit_crash_does_not_double_count_stats(spark, tmp_path,
                                                 monkeypatch):
    """A wave whose manifest commit fails after its files are written must
    leave no stats behind once the job resumes: lineage, metrics and the
    committed output each count every input doc exactly once."""
    out_dir = str(tmp_path / "commitcrash")
    corpus = spark_corpus(spark, 800, partitions=4)
    real_commit = SnapshotStore.commit
    calls = []

    def crashing_commit(self, bucket_ids, stats):
        calls.append(bucket_ids)
        if len(calls) == 2:
            raise RuntimeError("injected commit crash")
        return real_commit(self, bucket_ids, stats)

    monkeypatch.setattr(SnapshotStore, "commit", crashing_commit)
    with pytest.raises(RuntimeError, match="injected commit crash"):
        run_convert_job(spark, corpus, out_dir, n_buckets=8, waves=4,
                        partitions=4)
    monkeypatch.undo()
    assert len(SnapshotStore(out_dir).read()["snapshots"]) == 1

    run_convert_job(spark, corpus, out_dir, n_buckets=8, waves=4,
                    partitions=4)
    lineage = spark.read.parquet(f"{out_dir}/lineage")
    metrics = spark.read.parquet(f"{out_dir}/metrics")
    assert lineage.groupBy().sum("n_docs").collect()[0][0] == 800
    assert metrics.groupBy().sum("n_docs").collect()[0][0] == 800
    assert read_output(spark, out_dir).count() == 800


def test_wave_runs_at_most_eight_spark_jobs(spark, tmp_path):
    """The wave's bookkeeping (lineage, metrics, commit totals) rides one
    aggregate: skew split, parquet write and stats fit in 8 jobs a wave."""
    corpus = spark_corpus(spark, 200, partitions=4).persist()
    corpus.count()
    sc = spark.sparkContext
    sc.setJobGroup("wave-job-count", "run_convert_job")
    try:
        results = run_convert_job(spark, corpus, str(tmp_path / "jobs"),
                                  n_buckets=4, waves=2, partitions=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        corpus.unpersist()
    jobs = sc.statusTracker().getJobIdsForGroup("wave-job-count")
    assert len(results) == 2
    assert len(jobs) <= 8 * len(results), len(jobs)


def test_stats_tables_match_production_schema(spark, tmp_path):
    """The driver-written stats read back with the lineage columns of the
    production Iceberg DDL and the metrics columns Spark used to write."""
    from marky_spark.iceberg import lineage_table_ddl

    out_dir = str(tmp_path / "schema")
    run_convert_job(spark, spark_corpus(spark, 40, partitions=2), out_dir,
                    n_buckets=2, waves=2, partitions=2)
    ddl = lineage_table_ddl()
    columns = ddl[ddl.index("(") + 1:ddl.index(")")].split(",")
    expected = {name: typ.lower()
                for name, typ in (c.split() for c in columns)}
    lineage = spark.read.parquet(f"{out_dir}/lineage")
    assert {f.name: f.dataType.simpleString()
            for f in lineage.schema.fields} == expected
    metrics = spark.read.parquet(f"{out_dir}/metrics")
    assert metrics.schema.simpleString() == (
        "struct<conv_kind:string,status:string,n_docs:bigint,"
        "md_chars:bigint,wave:int>")
    assert sorted(r["wave"] for r in
                  lineage.select("wave").distinct().collect()) == [0, 1]


def test_skew_balanced_splits_mega_docs(spark):
    from marky_spark.schema import INPUT_SCHEMA

    rows = [
        {"doc_id": f"s{i}",
         "spans": [{"kind": "text", "text": "x" * 100, "media_ref": "",
                    "offset": 0}]}
        for i in range(200)
    ]
    rows.append({"doc_id": "mega",
                 "spans": [{"kind": "text", "text": "y" * 2_000_000,
                            "media_ref": "", "offset": 0}]})
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
    balanced = skew_balanced(df, partitions=8, skew_factor=4.0)
    assert balanced.count() == 201  # no loss through the split/union


def test_resume_cleans_orphans_from_mid_wave_crash(spark, tmp_path):
    """A wave that wrote files but died before its manifest commit must not
    double its rows when the bucket is re-run after restart."""
    import os

    from marky_spark.corpus import spark_corpus
    from marky_spark.pipeline import (
        SnapshotStore,
        read_output,
        run_convert_job,
        with_bucket,
    )

    out_dir = str(tmp_path / "job")
    corpus = spark_corpus(spark, 200, partitions=4)
    n_input = corpus.count()

    # simulate the crash: bucket files exist for EVERY bucket, but the
    # manifest (written after the files in the real sequence) never landed
    from marky_spark.convert import convert

    pre = with_bucket(convert(corpus), 8)
    (pre.write.mode("append").partitionBy("bucket")
     .parquet(os.path.join(out_dir, "out_spans")))
    SnapshotStore(out_dir)  # creates dir + empty manifest state
    assert not SnapshotStore(out_dir).committed_buckets()

    run_convert_job(spark, corpus, out_dir, n_buckets=8, waves=2)
    total = read_output(spark, out_dir).count()
    assert total == n_input  # orphans were cleaned, not duplicated


def test_read_output_empty_before_first_commit(spark, tmp_path):
    from marky_spark.pipeline import read_output

    df = read_output(spark, str(tmp_path / "never_ran"))
    assert df.count() == 0
    assert "bucket" in df.columns


def test_compact_output_reduces_files_preserves_rows(spark, tmp_path):
    import os

    from marky_spark.corpus import spark_corpus
    from marky_spark.pipeline import compact_output, read_output, run_convert_job

    out_dir = str(tmp_path / "compactjob")
    corpus = spark_corpus(spark, 400, partitions=8)
    run_convert_job(spark, corpus, out_dir, n_buckets=4, waves=4)

    before = read_output(spark, out_dir)
    rows_before = sorted(r["doc_id"] for r in before.select("doc_id").collect())

    def count_files():
        base = os.path.join(out_dir, "out_spans")
        return sum(
            len([f for f in os.listdir(os.path.join(base, d))
                 if f.endswith(".parquet")])
            for d in os.listdir(base) if d.startswith("bucket=")
        )

    n_before = count_files()
    stats = compact_output(spark, out_dir, target_file_bytes=1 << 30)
    n_after = count_files()
    assert stats["buckets"] == 4
    assert n_after < n_before
    assert n_after == 4  # one file per bucket at this tiny size
    # identical committed row set after the swap
    after = read_output(spark, out_dir)
    rows_after = sorted(r["doc_id"] for r in after.select("doc_id").collect())
    assert rows_after == rows_before
    # idempotent: second pass is a no-op
    assert compact_output(spark, out_dir, target_file_bytes=1 << 30)["buckets"] == 0


def test_compact_crash_recovery_restores_bucket(spark, tmp_path):
    """A crash between the two swap renames leaves the bucket dir absent and
    the data saved under _compact/; read_output and compact_output must
    restore it before reading. Readers are restore-only (a reader must never
    delete scratch a concurrent compactor may be mid-swap on); stale-scratch
    cleanup belongs to compact_output, the single writer."""
    import os
    import shutil

    from marky_spark.corpus import spark_corpus
    from marky_spark.pipeline import compact_output, read_output, run_convert_job

    out_dir = str(tmp_path / "crashcompact")
    run_convert_job(spark, spark_corpus(spark, 200, partitions=4),
                    out_dir, n_buckets=4, waves=2)
    rows_before = sorted(
        r["doc_id"] for r in read_output(spark, out_dir).select("doc_id").collect())

    # simulate the mid-swap crash: bucket=0 moved to scratch, never replaced
    scratch = os.path.join(out_dir, "_compact")
    os.makedirs(scratch, exist_ok=True)
    base = os.path.join(out_dir, "out_spans")
    os.rename(os.path.join(base, "bucket=0"),
              os.path.join(scratch, "bucket=0.old"))
    os.makedirs(os.path.join(scratch, "bucket=1.tmp"))  # stale scratch too

    after = sorted(
        r["doc_id"] for r in read_output(spark, out_dir).select("doc_id").collect())
    assert after == rows_before  # bucket restored, nothing lost or doubled
    assert os.path.isdir(os.path.join(base, "bucket=0"))
    # reader is restore-only: stale .tmp is left for the compactor
    assert os.path.isdir(os.path.join(scratch, "bucket=1.tmp"))

    # a completed swap leaves only a stale .old: the compactor's cleanup
    # recovery drops it (and the stale .tmp)
    shutil.copytree(os.path.join(base, "bucket=2"),
                    os.path.join(scratch, "bucket=2.old"))
    compact_output(spark, out_dir, target_file_bytes=1 << 30)
    assert not os.path.isdir(os.path.join(scratch, "bucket=2.old"))
    assert not os.path.isdir(os.path.join(scratch, "bucket=1.tmp"))
    final = sorted(
        r["doc_id"] for r in read_output(spark, out_dir).select("doc_id").collect())
    assert final == rows_before

def test_compact_swap_failure_restores_not_deletes(spark, tmp_path, monkeypatch):
    """If the tmp→live rename fails for any reason OTHER than the reader
    race (live dir still absent), the saved .old dir is the only copy of a
    committed bucket: compact_output must restore it, never rmtree it
    (ADVICE r2: unconditional delete was permanent data loss)."""
    import os

    from marky_spark import pipeline
    from marky_spark.pipeline import compact_output

    out_dir = str(tmp_path / "swapfail")
    run_convert_job(spark, spark_corpus(spark, 200, partitions=4),
                    out_dir, n_buckets=4, waves=2)
    rows_before = sorted(
        r["doc_id"] for r in read_output(spark, out_dir).select("doc_id").collect())

    real_rename = os.rename

    def failing_rename(src, dst):
        if src.endswith(".tmp"):  # the tmp→live swap rename only
            raise OSError("injected transient I/O failure")
        return real_rename(src, dst)

    monkeypatch.setattr(pipeline.os, "rename", failing_rename)
    stats = compact_output(spark, out_dir, target_file_bytes=1 << 30)
    monkeypatch.undo()

    assert stats["buckets"] == 0  # every swap failed...
    rows_after = sorted(
        r["doc_id"] for r in read_output(spark, out_dir).select("doc_id").collect())
    assert rows_after == rows_before  # ...but every bucket was restored
    # and the next (unbroken) pass compacts normally
    assert compact_output(spark, out_dir, target_file_bytes=1 << 30)["buckets"] == 4
    final = sorted(
        r["doc_id"] for r in read_output(spark, out_dir).select("doc_id").collect())
    assert final == rows_before


def test_resume_after_compaction_crash_exactly_once(spark, tmp_path):
    """Composed failure: job crashes between waves AND a compaction swap on a
    committed bucket crashed mid-rename. Resuming run_convert_job and then
    read_output must still yield exactly-once output."""
    import os

    out_dir = str(tmp_path / "composed")
    corpus = spark_corpus(spark, N_DOCS, partitions=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_convert_job(spark, corpus, out_dir, n_buckets=8, waves=4,
                        partitions=4, fail_after_wave=2)
    committed = sorted(SnapshotStore(out_dir).committed_buckets())
    assert committed and len(committed) < 8

    # mid-compaction crash on a COMMITTED bucket: live dir moved to scratch
    scratch = os.path.join(out_dir, "_compact")
    os.makedirs(scratch, exist_ok=True)
    base = os.path.join(out_dir, "out_spans")
    b = committed[0]
    os.rename(os.path.join(base, f"bucket={b}"),
              os.path.join(scratch, f"bucket={b}.old"))

    # resume the job (processes only pending buckets), then read
    run_convert_job(spark, corpus, out_dir, n_buckets=8, waves=4, partitions=4)
    final = read_output(spark, out_dir)
    assert final.count() == N_DOCS
    assert final.select("doc_id").distinct().count() == N_DOCS
    assert os.path.isdir(os.path.join(base, f"bucket={b}"))


def test_ingest_drops_land_in_metrics_sink(spark, tmp_path):
    """The ONE-place accounting contract: records/members the front door
    could not produce ride the pipeline as _drop_* error rows, so the
    job's metrics table counts them per wave and the out_spans table
    carries their reasons — nothing the run skipped is silent."""
    import gzip

    from marky_spark.ingest import docs_from_warc_dir

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    html = b"<html><body><p>ok page</p></body></html>"
    http = b"HTTP/1.1 200 OK\r\n\r\n" + html
    good = (b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: http://ok/1\r\n"
            b"Content-Type: application/http;msgtype=response\r\n"
            + b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
            + http + b"\r\n\r\n")
    with gzip.open(crawl / "good.warc.gz", "wb") as gz:
        gz.write(good)
    # a truncated WARC: header promises more bytes than the file has
    (crawl / "trunc.warc").write_bytes(
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999\r\n\r\nxx")

    docs = docs_from_warc_dir(spark, str(crawl))
    out_dir = str(tmp_path / "job_drops")
    results = run_convert_job(spark, docs, out_dir, n_buckets=2, waves=1,
                              partitions=2)
    assert sum(r.n_docs for r in results) == 2  # 1 converted + 1 drop row
    assert sum(r.n_errors for r in results) == 1

    metrics = spark.read.parquet(f"{out_dir}/metrics")
    rows = {(r["conv_kind"], r["status"]): r["n_docs"]
            for r in metrics.collect()}
    assert rows[("_drop_warc", "error")] == 1
    # and the drop row in out_spans carries the reason
    drop = read_output(spark, out_dir).where(
        "conv_kind = '_drop_warc'").collect()[0]
    assert "error:" in drop["error"]
    assert drop["status"] == "error"


def test_op_metrics_sink_carries_lsh_drop_stats(spark, tmp_path):
    """Operator-level bounds (here: LSH mega-bucket drops) land in the
    job's metrics_ops table via append_op_metrics — the one-place
    accounting contract for what a run silently bounded."""
    from marky_spark.ops.dedup import minhash_candidate_pairs
    from marky_spark.pipeline import append_op_metrics

    # 40 identical docs: every band bucket holds all 40 ids, far over a
    # max_bucket of 8 → all buckets drop, zero candidate pairs
    docs = spark.createDataFrame(
        [(f"d{i}", "same template text repeated for the lsh bands "
                   "again and again and again") for i in range(40)],
        "doc_id string, text string")
    stats: dict = {}
    pairs = minhash_candidate_pairs(docs, max_bucket=8, drop_stats=stats)
    assert pairs.count() == 0
    assert stats["n_dropped_buckets"] > 0
    assert stats["n_dropped_ids"] >= stats["n_dropped_buckets"] * 40

    out_dir = str(tmp_path / "job_ops")
    append_op_metrics(spark, out_dir, "minhash_lsh", stats)
    got = {(r["source"], r["key"]): r["value"] for r in
           spark.read.parquet(f"{out_dir}/metrics_ops").collect()}
    assert got[("minhash_lsh", "n_dropped_buckets")] \
        == stats["n_dropped_buckets"]
    assert got[("minhash_lsh", "n_dropped_ids")] == stats["n_dropped_ids"]
    # appending accumulates (one row set per run)
    append_op_metrics(spark, out_dir, "archive_explode",
                      {"cap_rejected_members": 3})
    rows = spark.read.parquet(f"{out_dir}/metrics_ops")
    assert rows.count() == 3
