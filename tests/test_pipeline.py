"""Resumable bucketed job: crash → restart → complete, no dupes, no loss."""

import os
import threading

import pytest
from pyspark.sql import functions as F

from marky_spark import pipeline
from marky_spark.corpus import spark_corpus
from marky_spark.pipeline import (
    DOC_BYTES,
    SnapshotStore,
    bucket_sizes,
    compact_output,
    job_stats,
    plan_wave,
    read_output,
    run_convert_job,
    skew_balanced,
    wave_dir,
    with_bucket,
    write_wave,
)
from marky_spark.schema import INPUT_SCHEMA

N_DOCS = 240


def test_crash_resume_completes_without_dupes(spark, tmp_path):
    out_dir = str(tmp_path / "job")
    corpus = spark_corpus(spark, N_DOCS, partitions=4)

    # first run crashes after 1 committed wave
    with pytest.raises(RuntimeError, match="injected failure"):
        run_convert_job(spark, corpus, out_dir, n_buckets=16, waves=4,
                        fail_after_wave=1)
    committed_1 = SnapshotStore(out_dir).committed_buckets()
    assert 0 < len(committed_1) < 16
    partial = read_output(spark, out_dir)
    n_partial = partial.count()
    assert 0 < n_partial < N_DOCS

    # restart: only remaining buckets are processed
    results = run_convert_job(spark, corpus, out_dir, n_buckets=16, waves=4)
    done = sum(r.n_docs for r in results)
    assert done == N_DOCS - n_partial  # no recomputation of committed work

    final = read_output(spark, out_dir)
    assert final.count() == N_DOCS
    assert final.select("doc_id").distinct().count() == N_DOCS  # no dupes
    assert SnapshotStore(out_dir).committed_buckets() == set(range(16))

    # every snapshot explains its own split: the plan read back from the
    # manifest is the one the wave's payload bytes give
    sized = with_bucket(corpus, 16).withColumn("_bytes", F.expr(DOC_BYTES))
    cores = spark.sparkContext.defaultParallelism
    for snap in SnapshotStore(out_dir).read()["snapshots"]:
        stats = snap["stats"]
        wave_bytes, max_doc = sized.where(
            F.col("bucket").isin(snap["buckets"])
        ).agg(F.sum("_bytes"), F.max("_bytes")).first()
        assert stats["tasks"] == cores  # far under one task's byte budget
        assert stats["threshold_bytes"] == int(wave_bytes / cores / 4.0)
        assert stats["max_doc_bytes"] == max_doc
        assert 0 < stats["write_s"] <= stats["seconds"]


def test_rerun_on_complete_job_is_noop(spark, tmp_path):
    out_dir = str(tmp_path / "job2")
    corpus = spark_corpus(spark, 60, partitions=2)
    run_convert_job(spark, corpus, out_dir, n_buckets=4, waves=2)
    again = run_convert_job(spark, corpus, out_dir, n_buckets=4, waves=2)
    assert again == []
    assert read_output(spark, out_dir).count() == 60


def test_lineage_and_metrics_written(spark, tmp_path):
    out_dir = str(tmp_path / "job3")
    corpus = spark_corpus(spark, 80, partitions=2)
    run_convert_job(spark, corpus, out_dir, n_buckets=4, waves=1)

    lineage, metrics = job_stats(spark, out_dir)
    assert lineage.groupBy().sum("n_docs").collect()[0][0] == 80
    rows = {(r["conv_kind"], r["status"]): r["n_docs"] for r in metrics.collect()}
    assert sum(rows.values()) == 80
    assert all(status == "ok" for (_, status) in rows)


def test_commit_crash_does_not_double_count_stats(spark, tmp_path,
                                                 monkeypatch):
    """A wave whose manifest commit fails after its files are written shows
    in no stats: after the crash the view counts the committed wave only,
    and after the resume lineage, metrics and the committed output each
    count every input doc exactly once."""
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
        run_convert_job(spark, corpus, out_dir, n_buckets=8, waves=4)
    monkeypatch.undo()
    (snap,) = SnapshotStore(out_dir).read()["snapshots"]
    # the crashed wave's files are on disk but pruned from every reader
    assert os.listdir(wave_dir(out_dir, 1))
    lineage, metrics = job_stats(spark, out_dir)
    for stats in (lineage, metrics):
        assert stats.groupBy().sum("n_docs").collect()[0][0] == \
            snap["stats"]["n_docs"] == read_output(spark, out_dir).count()

    run_convert_job(spark, corpus, out_dir, n_buckets=8, waves=4)
    lineage, metrics = job_stats(spark, out_dir)
    assert lineage.groupBy().sum("n_docs").collect()[0][0] == 800
    assert metrics.groupBy().sum("n_docs").collect()[0][0] == 800
    assert read_output(spark, out_dir).count() == 800


def test_wave_is_one_spark_job(spark, tmp_path):
    """One sizing aggregate per job (2 jobs); a wave is its parquet write,
    which also returns the commit's totals (1 job). A wave that splits a
    tail adds the tail's round-robin shuffle stage (1 job). The write puts
    one file per non-empty task in the wave's directory: at most ``tasks``
    files, and at most ``tasks`` more for a split tail."""
    corpus = spark_corpus(spark, 200, partitions=4).persist()
    corpus.count()
    out_dir = str(tmp_path / "jobs")
    sc = spark.sparkContext
    sc.setJobGroup("wave-job-count", "run_convert_job")
    try:
        results = run_convert_job(spark, corpus, out_dir, n_buckets=4,
                                  waves=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        corpus.unpersist()
    jobs = sc.statusTracker().getJobIdsForGroup("wave-job-count")
    assert len(results) == 2
    split = sum(s["stats"]["max_doc_bytes"] > s["stats"]["threshold_bytes"]
                for s in SnapshotStore(out_dir).read()["snapshots"])
    assert 0 < split < len(results)  # both kinds of wave are counted
    assert len(jobs) == 2 + len(results) + split, (len(jobs), split)
    for k, snap in enumerate(SnapshotStore(out_dir).read()["snapshots"]):
        stats = snap["stats"]
        files = [f for f in os.listdir(wave_dir(out_dir, k))
                 if f.endswith(".parquet")]
        tail = stats["max_doc_bytes"] > stats["threshold_bytes"]
        assert 0 < len(files) <= stats["tasks"] * (1 + tail)


def test_resume_runs_no_sizing_job(spark, tmp_path):
    """A resume whose pending buckets all have sizes in the manifest runs
    one job per wave (plus one per split tail) and none to size them."""
    corpus = spark_corpus(spark, 200, partitions=4).persist()
    corpus.count()
    out_dir = str(tmp_path / "resume_jobs")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_convert_job(spark, corpus, out_dir, n_buckets=8, waves=4,
                        fail_after_wave=1)
    sc = spark.sparkContext
    sc.setJobGroup("resume-job-count", "run_convert_job")
    try:
        results = run_convert_job(spark, corpus, out_dir, n_buckets=8,
                                  waves=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        corpus.unpersist()
    jobs = sc.statusTracker().getJobIdsForGroup("resume-job-count")
    snaps = SnapshotStore(out_dir).read()["snapshots"][1:]
    assert len(results) == len(snaps) == 3
    split = sum(s["stats"]["max_doc_bytes"] > s["stats"]["threshold_bytes"]
                for s in snaps)
    assert len(jobs) == len(results) + split, (len(jobs), split)


def test_sizing_aggregate_runs_once_per_call(spark, tmp_path, monkeypatch):
    """A job's first call plans its waves from one sizing pass over the
    pending buckets, however many waves it runs, and records every
    bucket's row (an empty one too) and the pass's seconds in the
    manifest. A resume plans from the recorded rows without sizing, unless
    a pending bucket has no row: then it sizes once, as a first call."""
    corpus = spark_corpus(spark, 120, partitions=4)
    calls = []

    def counting(bucketed):
        calls.append(1)
        return bucket_sizes(bucketed)

    monkeypatch.setattr(pipeline, "bucket_sizes", counting)
    for waves in (1, 4):
        calls.clear()
        out_dir = str(tmp_path / f"w{waves}")
        results = run_convert_job(spark, corpus, out_dir, n_buckets=4,
                                  waves=waves)
        assert len(results) == waves
        assert len(calls) == 1, (waves, len(calls))
        manifest = SnapshotStore(out_dir).read()
        assert sorted(manifest["bucket_sizes"]) == ["0", "1", "2", "3"]
        assert len(manifest["sizing_s"]) == 1

    out_dir = str(tmp_path / "resume")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_convert_job(spark, corpus, out_dir, n_buckets=8, waves=4,
                        fail_after_wave=1)
    store = SnapshotStore(out_dir)
    recorded = store.read()["bucket_sizes"]
    assert sorted(map(int, recorded)) == list(range(8))  # empty ones too
    with pytest.raises(RuntimeError, match="injected failure"):
        run_convert_job(spark, corpus, out_dir, n_buckets=8, waves=3,
                        fail_after_wave=1)
    assert len(calls) == 2  # 1 per first call: the resume did not size
    manifest = store.read()
    del manifest["bucket_sizes"][str(max(
        b for b in range(8) if b not in manifest["committed_buckets"]))]
    store.write(manifest)
    run_convert_job(spark, corpus, out_dir, n_buckets=8, waves=2)
    assert len(calls) == 3
    manifest = store.read()
    assert manifest["bucket_sizes"] == recorded
    assert len(manifest["sizing_s"]) == 2
    assert read_output(spark, out_dir).count() == 120


def test_stats_tables_match_production_schema(spark, tmp_path):
    """The stats view has the lineage columns of the production Iceberg
    DDL and the metrics columns the job has always reported."""
    from marky_spark.iceberg import lineage_table_ddl

    out_dir = str(tmp_path / "schema")
    run_convert_job(spark, spark_corpus(spark, 40, partitions=2), out_dir,
                    n_buckets=2, waves=2)
    ddl = lineage_table_ddl()
    columns = ddl[ddl.index("(") + 1:ddl.index(")")].split(",")
    expected = {name: typ.lower()
                for name, typ in (c.split() for c in columns)}
    lineage, metrics = job_stats(spark, out_dir)
    assert {f.name: f.dataType.simpleString()
            for f in lineage.schema.fields} == expected
    assert metrics.schema.simpleString() == (
        "struct<conv_kind:string,status:string,n_docs:bigint,"
        "md_chars:bigint,wave:int>")
    assert sorted(r["wave"] for r in
                  lineage.select("wave").distinct().collect()) == [0, 1]


def _text_docs(spark, sizes):
    return spark.createDataFrame(
        [{"doc_id": f"d{i:04d}",
          "spans": [{"kind": "text", "text": "x" * n, "media_ref": "",
                     "offset": 0}]}
         for i, n in enumerate(sizes)], schema=INPUT_SCHEMA)


def _plan(spark, df):
    return plan_wave(spark, bucket_sizes(with_bucket(df, 1)).values())


def test_skew_balanced_splits_mega_docs(spark):
    # a doc with null spans still converts to a row: the split keeps it
    nospans = spark.createDataFrame([("nospans", None)], schema=INPUT_SCHEMA)
    df = _text_docs(spark, [100] * 200 + [2_000_000]).unionByName(nospans)
    plan = _plan(spark, df)
    assert plan.max_doc_bytes == 2_000_000 > plan.threshold_bytes
    balanced = skew_balanced(df, plan)
    assert balanced.count() == 202  # no loss through the split/union


def test_dense_tail_is_isolated(spark):
    """5% of docs at 100x the rest: 4 x p99 of doc bytes fell inside such
    a tail and isolated nothing. Every doc over a quarter of a task's byte
    share is round-robined over the wave's tasks, after the bulk's."""
    sizes = [10_000 if i % 20 == 0 else 100 for i in range(200)]
    df = _text_docs(spark, sizes)
    plan = _plan(spark, df)
    assert plan.tasks == spark.sparkContext.defaultParallelism
    assert plan.threshold_bytes == int(sum(sizes) / plan.tasks / 4.0)
    out = skew_balanced(df, plan)
    assert out.rdd.getNumPartitions() == 2 * plan.tasks
    by_part = out.withColumn("_pid", F.spark_partition_id()).collect()
    tail = [r for r in by_part if r["_pid"] >= plan.tasks]
    assert sorted(r["doc_id"] for r in tail) == [
        f"d{i:04d}" for i, n in enumerate(sizes) if n == 10_000]
    per_task = [sum(r["_pid"] == p for r in tail)
                for p in range(plan.tasks, 2 * plan.tasks)]
    assert max(per_task) - min(per_task) <= 1  # round-robin balance
    assert len(by_part) == 200


def test_resume_cleans_orphans_from_mid_wave_crash(spark, tmp_path):
    """Waves that wrote files but died before their commit are never read:
    not before the resume, not after it. The orphan at index 0 is deleted
    when snapshot 0 commits; the one at index 3, past the snapshot count,
    is left alone, since it may belong to a writer still running."""
    from marky_spark.convert import convert

    out_dir = str(tmp_path / "job")
    corpus = spark_corpus(spark, 200, partitions=4)
    n_input = corpus.count()

    # simulate the crash: a writer wrote wave 0 (every doc) and wave 3, and
    # died before either commit
    crashed = SnapshotStore(out_dir)
    pre = with_bucket(convert(corpus), 8)
    orphans = {}
    for k in (0, 3):
        write_wave(crashed, pre, k)
        orphans[k] = wave_dir(out_dir, k)
    assert not SnapshotStore(out_dir).committed_buckets()
    assert read_output(spark, out_dir).count() == 0

    run_convert_job(spark, corpus, out_dir, n_buckets=8, waves=2)
    assert len(SnapshotStore(out_dir).read()["snapshots"]) == 2
    assert not os.path.isdir(orphans[0])
    assert os.listdir(orphans[3])
    final = read_output(spark, out_dir)
    assert final.count() == n_input  # orphans were not read, not duplicated
    assert final.select("doc_id").distinct().count() == n_input


def test_zombie_driver_loses_its_commit_not_committed_work(spark, tmp_path,
                                                           monkeypatch):
    """Two drivers on one job directory. A (2 waves) is held between its
    wave-1 write and its commit; B (4 waves, crashing after 1) reads the
    snapshots while A is held, then A commits. B's first wave claims the
    index A took: B raises StaleWriter and deletes its directory, and a
    resume finds every bucket committed with every doc exactly once."""
    out_dir = str(tmp_path / "zombie")
    corpus = spark_corpus(spark, 400, partitions=4).persist()
    corpus.count()
    a_held, b_planned = threading.Event(), threading.Event()
    go_a, go_b = threading.Event(), threading.Event()
    real_commit, real_split = SnapshotStore.commit, pipeline.skew_balanced
    a_commits = []

    def commit(self, bucket_ids, stats):
        if threading.current_thread().name == "A":
            a_commits.append(bucket_ids)
            if len(a_commits) == 2:
                a_held.set()
                assert go_a.wait(120)
        return real_commit(self, bucket_ids, stats)

    def split(df, plan, *args):
        if threading.current_thread().name == "B":
            b_planned.set()
            assert go_b.wait(120)
        return real_split(df, plan, *args)

    monkeypatch.setattr(SnapshotStore, "commit", commit)
    monkeypatch.setattr(pipeline, "skew_balanced", split)
    errors = {}

    def driver(name, **kw):
        try:
            run_convert_job(spark, corpus, out_dir, n_buckets=16, **kw)
        except Exception as exc:  # noqa: BLE001 - the test reads it
            errors[name] = exc

    a = threading.Thread(target=driver, name="A", args=("A",),
                         kwargs={"waves": 2})
    b = threading.Thread(target=driver, name="B", args=("B",),
                         kwargs={"waves": 4, "fail_after_wave": 1})
    a.start()
    assert a_held.wait(120)
    b.start()
    assert b_planned.wait(120)
    go_a.set()
    a.join(120)
    go_b.set()
    b.join(120)
    monkeypatch.undo()

    assert "A" not in errors
    assert isinstance(errors["B"], pipeline.StaleWriter), errors
    snaps = SnapshotStore(out_dir).read()["snapshots"]
    assert [s["buckets"] for s in snaps] == [list(range(8)),
                                             list(range(8, 16))]
    assert sorted(os.listdir(os.path.join(out_dir, "out_spans"))) == [
        s["dir"] for s in snaps]
    assert run_convert_job(spark, corpus, out_dir, n_buckets=16) == []
    final = read_output(spark, out_dir)
    assert final.count() == 400
    assert final.select("doc_id").distinct().count() == 400
    corpus.unpersist()


def test_racing_commits_one_wins_loser_dir_gone(spark, tmp_path,
                                                monkeypatch):
    """Two write_output calls both claim snapshot 0 and commit at once:
    exactly one wins, the other raises StaleWriter, and only the winner's
    directory is left."""
    from marky_spark.iceberg import write_output

    out = str(tmp_path / "race")
    df = spark.range(5).selectExpr("cast(id as string) as doc_id")
    both_written = threading.Barrier(2, timeout=120)
    real_commit = SnapshotStore.commit

    def commit(self, bucket_ids, stats):
        both_written.wait()
        return real_commit(self, bucket_ids, stats)

    monkeypatch.setattr(SnapshotStore, "commit", commit)
    outcomes = []

    def writer():
        try:
            outcomes.append(write_output(df, spark, out))
        except Exception as exc:  # noqa: BLE001 - the test reads it
            outcomes.append(exc)

    threads = [threading.Thread(target=writer) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(180)
    monkeypatch.undo()

    assert sorted(type(o).__name__ for o in outcomes) == [
        "StaleWriter", "str"], outcomes
    store = SnapshotStore(out)
    (snap,) = store.read()["snapshots"]
    assert os.listdir(os.path.join(out, "out_spans")) == [snap["dir"]]
    assert spark.read.parquet(*store.committed_dirs()).count() == 5


def test_read_output_empty_before_first_commit(spark, tmp_path):
    df = read_output(spark, str(tmp_path / "never_ran"))
    assert df.count() == 0
    assert "bucket" in df.columns and "wave" in df.columns


def test_compact_output_reduces_files_preserves_rows(spark, tmp_path):
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
            for d in os.listdir(base) if d.startswith("wave=")
        )

    n_before = count_files()
    stats = compact_output(spark, out_dir, target_file_bytes=1 << 30)
    n_after = count_files()
    assert stats["waves"] == 4
    assert n_after < n_before
    assert n_after == 4  # one file per wave at this tiny size
    # identical committed row set after the swap
    after = read_output(spark, out_dir)
    rows_after = sorted(r["doc_id"] for r in after.select("doc_id").collect())
    assert rows_after == rows_before
    # idempotent: second pass is a no-op
    assert compact_output(spark, out_dir, target_file_bytes=1 << 30)["waves"] == 0


def test_job_stats_follow_compaction(spark, tmp_path):
    """The stats view reads the committed files as they are: after
    compaction its totals still equal the committed row count, and its
    lineage has one row per compacted file."""
    out_dir = str(tmp_path / "statscompact")
    run_convert_job(spark, spark_corpus(spark, 200, partitions=4), out_dir,
                    n_buckets=4, waves=2)
    compact_output(spark, out_dir, target_file_bytes=1 << 30)
    lineage, metrics = job_stats(spark, out_dir)
    rows = read_output(spark, out_dir).count()
    assert rows == 200
    for stats in (lineage, metrics):
        assert stats.groupBy().sum("n_docs").collect()[0][0] == rows
    assert lineage.count() == 2  # one file per wave
    assert sorted(r["wave"] for r in lineage.collect()) == [0, 1]


@pytest.mark.parametrize("crash", ["before_publish", "after_publish"])
def test_compaction_crash_reads_exactly_once(spark, tmp_path, monkeypatch,
                                             crash):
    """A compaction that dies before it publishes a snapshot's new
    directory, or after the publish but before it deletes the old one,
    leaves one directory the snapshot does not name. No step repairs it:
    read_output reads the named directory, the job resumes exactly once,
    and the next compaction deletes the leftover as a commit would."""
    out_dir = str(tmp_path / "crashcompact")
    corpus = spark_corpus(spark, N_DOCS, partitions=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_convert_job(spark, corpus, out_dir, n_buckets=8, waves=4,
                        fail_after_wave=2)
    def doc_ids():
        return sorted(r["doc_id"] for r in
                      read_output(spark, out_dir).select("doc_id").collect())

    rows_before = doc_ids()
    real_publish = SnapshotStore.publish

    def publish(self, wave, record):
        if crash == "after_publish":
            real_publish(self, wave, record)
        raise RuntimeError("injected compaction crash")

    monkeypatch.setattr(SnapshotStore, "publish", publish)
    with pytest.raises(RuntimeError, match="injected compaction crash"):
        compact_output(spark, out_dir, target_file_bytes=1 << 30)
    monkeypatch.undo()
    store = SnapshotStore(out_dir)
    assert len(store.dirs_at(0)) == 2  # the leftover is on disk, unread
    assert doc_ids() == rows_before

    run_convert_job(spark, corpus, out_dir, n_buckets=8, waves=4)
    final = read_output(spark, out_dir)
    assert final.count() == N_DOCS
    assert final.select("doc_id").distinct().count() == N_DOCS
    compact_output(spark, out_dir, target_file_bytes=1 << 30)
    assert sorted(os.listdir(os.path.join(out_dir, "out_spans"))) == sorted(
        os.path.basename(d) for d in store.committed_dirs())
    assert read_output(spark, out_dir).count() == N_DOCS


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
    results = run_convert_job(spark, docs, out_dir, n_buckets=2, waves=1)
    assert sum(r.n_docs for r in results) == 2  # 1 converted + 1 drop row
    assert sum(r.n_errors for r in results) == 1

    rows = {(r["conv_kind"], r["status"]): r["n_docs"]
            for r in job_stats(spark, out_dir)[1].collect()}
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


def test_job_of_empty_waves_reads_back_empty(spark, tmp_path):
    """A committed wave that held no document writes one file with no
    rows; the output and the stats view still read back empty, as they do
    before the first commit."""
    out_dir = str(tmp_path / "empty")
    assert [s.count() for s in job_stats(spark, out_dir)] == [0, 0]
    empty = spark.createDataFrame([], schema=INPUT_SCHEMA)
    results = run_convert_job(spark, empty, out_dir, n_buckets=2, waves=1)
    assert [(r.n_docs, r.n_errors) for r in results] == [(0, 0)]
    assert read_output(spark, out_dir).count() == 0
    assert [s.count() for s in job_stats(spark, out_dir)] == [0, 0]
