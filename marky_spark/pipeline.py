"""The production job: bucketed, resumable, skew-aware conversion.

Scale design (SURVEY.md §3.4, §4.2) — written for a 1000-executor cluster
over 10^12 documents, evidenced locally:

- **Bucketing**: documents hash into ``n_buckets`` stable buckets
  (``pmod(xxhash64(doc_id), B)``); output parquet is partitioned by bucket.
  In production this is an Iceberg table with a ``bucket(B, doc_id)``
  partition transform; locally a partitioned parquet dir + a JSON manifest
  plays the snapshot role (same resume logic either way — §7.0).
- **Waves + snapshot commit**: buckets are processed in waves; after each
  wave's files are durably written the manifest commit makes those buckets
  visible (atomic rename). Restart skips committed buckets — resume costs one
  metadata read + a partition-pruned filter, NOT an anti-join against 10^12
  output rows.
- **Skew**: one JVM-side aggregate per job sizes every pending bucket
  (payload bytes and largest doc, from ``aggregate(spans, ...)``); each
  wave is then planned from those rows with no Spark job. The task count
  comes from Spark's own per-task byte budget
  (``spark.sql.files.maxPartitionBytes``, at least ``defaultParallelism``
  tasks); a doc over ``1/skew_factor`` of a task's share is tail and is
  round-robin repartitioned, so no task serializes several multi-GB
  documents, while the bulk flows into conversion narrowly.
- **Lineage + metrics**: a view over the committed output, not stored
  state (:func:`job_stats`): per-file lineage (each output file is one
  task's share of one bucket) and per-kind metrics, each bucket's wave read
  from the manifest's snapshots. Built from committed buckets only, they are
  exactly-once across crash + resume by construction. A commit's totals
  come from an ``Observation`` on the wave's own write: one Spark job.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Iterable
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .convert import convert


class SnapshotStore:
    """Manifest-based local snapshot (Iceberg-semantics stand-in).

    ``manifest.json`` holds the committed bucket list; commits are atomic via
    write-to-temp + ``os.replace``.
    """

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.manifest_path = os.path.join(out_dir, "manifest.json")
        os.makedirs(out_dir, exist_ok=True)

    def read(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"committed_buckets": [], "snapshots": []}
        with open(self.manifest_path) as f:
            return json.load(f)

    def committed_buckets(self) -> set[int]:
        return set(self.read()["committed_buckets"])

    def commit(self, bucket_ids: list[int], stats: dict) -> None:
        manifest = self.read()
        manifest["committed_buckets"] = sorted(
            set(manifest["committed_buckets"]) | set(bucket_ids)
        )
        manifest["snapshots"].append(
            {"buckets": sorted(bucket_ids), "stats": stats}
        )
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self.manifest_path)


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


#: per-doc payload bytes, evaluated JVM-side. A SQL string, not a module-level
#: ``F.expr``: building a Column needs an active SparkContext.
DOC_BYTES = ("coalesce(aggregate(spans, 0L,"
             " (a, s) -> a + length(coalesce(s.text, ''))), 0L)")


@dataclass(frozen=True)
class WavePlan:
    """How one wave is laid over tasks; see :func:`plan_wave`."""

    tasks: int
    threshold_bytes: int    # a doc over this is a tail doc
    max_doc_bytes: int      # the wave's largest doc


def bucket_sizes(bucketed: DataFrame) -> dict[int, tuple[int, int]]:
    """``bucket -> (payload bytes, largest doc bytes)`` from one JVM-side
    aggregate; buckets holding no doc are absent."""
    size = F.expr(DOC_BYTES)
    rows = bucketed.groupBy("bucket").agg(F.sum(size), F.max(size)).collect()
    return {r[0]: (r[1], r[2]) for r in rows}


def plan_wave(spark: SparkSession, sizes: Iterable[tuple[int, int]],
              skew_factor: float = 4.0) -> WavePlan:
    """Plan a wave from its buckets' ``(bytes, largest doc)`` rows with no
    Spark job.

    ``tasks = max(defaultParallelism, ceil(bytes / maxPartitionBytes))``:
    Spark's own per-task byte budget for file scans, so a small wave does
    not pay the per-task floor more often than it has cores and a big wave
    gets a task per budget. A doc is tail when it holds more than
    ``1 / skew_factor`` of a task's fair share (``bytes / tasks``), however
    many such docs the wave has.
    """
    sizes = list(sizes)
    wave_bytes = sum(b for b, _ in sizes)
    budget = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    tasks = max(spark.sparkContext.defaultParallelism, -(-wave_bytes // budget))
    return WavePlan(tasks, int(wave_bytes / tasks / skew_factor),
                    max((m for _, m in sizes), default=0))


def skew_balanced(df: DataFrame, plan: WavePlan) -> DataFrame:
    """Lay ``df`` over ``plan.tasks`` partitions, splitting the tail off the
    bulk WITHOUT shuffling the bulk.

    Docs over ``plan.threshold_bytes`` (per-doc payload bytes, computed
    JVM-side, no Python) are round-robin repartitioned over ``plan.tasks``
    partitions: byte balance for the tail. The bulk flows into the
    conversion map narrowly: ``coalesce`` when the input has more
    partitions than tasks, a round-robin only when it has fewer.
    Reshuffling 100 TB to redistribute a <1% tail would make the skew fix
    itself the bottleneck: measured locally, the bulk shuffle capped
    4→16-core scaling efficiency at ~0.37, vs ≥0.8 with the tail-only
    shuffle. A wave whose largest doc is under the threshold plans with no
    filter, ``Union`` or ``Exchange``.
    """
    in_parts = df.rdd.getNumPartitions()

    def bulk(d: DataFrame) -> DataFrame:
        if in_parts > plan.tasks:
            return d.coalesce(plan.tasks)
        return d.repartition(plan.tasks) if in_parts < plan.tasks else d

    if plan.max_doc_bytes <= plan.threshold_bytes:
        return bulk(df)
    size = F.expr(DOC_BYTES)
    tail = df.where(size > plan.threshold_bytes).repartition(plan.tasks)
    return bulk(df.where(size <= plan.threshold_bytes)).unionByName(tail)


@dataclass
class WaveResult:
    wave: int
    buckets: list[int]
    n_docs: int
    n_errors: int
    seconds: float


def run_convert_job(
    spark: SparkSession,
    input_df: DataFrame,
    out_dir: str,
    n_buckets: int = 64,
    waves: int = 4,
    skew_factor: float = 4.0,
    fail_after_wave: int | None = None,
) -> list[WaveResult]:
    """Bucketed, wave-committed, resumable conversion job.

    The pending buckets are sized once (:func:`bucket_sizes`) and every
    wave is planned from those rows (:func:`plan_wave`); each wave filters
    ``input_df`` again, so callers persist an input that is costly to
    recompute. ``fail_after_wave`` injects a crash after N committed waves
    (tests the resume contract).
    """
    store = SnapshotStore(out_dir)
    committed = store.committed_buckets()

    bucketed = with_bucket(input_df, n_buckets)
    pending = [b for b in range(n_buckets) if b not in committed]
    results: list[WaveResult] = []
    if not pending:
        return results

    # exactly-once across crash+resume: a wave that wrote files but died
    # before its manifest commit left orphans in still-pending bucket
    # partitions; re-running without clearing them would double those rows.
    # (Iceberg needs no equivalent — uncommitted files are invisible to the
    # snapshot; this restores that semantic for the parquet stand-in.)
    wave_base = len(store.read()["snapshots"])
    _clean_uncommitted(out_dir, pending)
    sizes = bucket_sizes(bucketed.where(F.col("bucket").isin(pending)))

    per_wave = max(1, -(-len(pending) // waves))
    for w in range(0, len(pending), per_wave):
        wave_buckets = pending[w:w + per_wave]
        wave_id = wave_base + w // per_wave
        t0 = time.perf_counter()
        plan = plan_wave(spark, [sizes.get(b, (0, 0)) for b in wave_buckets],
                         skew_factor)
        wave_df = bucketed.where(F.col("bucket").isin(wave_buckets))
        out = convert(skew_balanced(wave_df.drop("bucket"), plan))
        # the commit's totals come back with the write: one Spark job
        observed = Observation()
        (with_bucket(out, n_buckets).observe(observed, *_totals())
         .write.mode("append")
         .partitionBy("bucket")
         .parquet(os.path.join(out_dir, "out_spans")))
        totals = observed.get
        dt = time.perf_counter() - t0
        store.commit(wave_buckets, {
            **totals, "seconds": round(dt, 3), **asdict(plan),
        })
        results.append(WaveResult(wave_id, wave_buckets, totals["n_docs"],
                                  totals["n_errors"], dt))
        if fail_after_wave is not None and len(results) >= fail_after_wave:
            raise RuntimeError(f"injected failure after wave {len(results)}")
    return results


def _totals() -> list:
    """``n_docs``, ``n_errors`` and ``md_chars`` over output rows; a sum
    over no rows is null, hence the coalesce."""
    return [
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum((F.col("status") != "ok").cast("long")),
                   F.lit(0)).alias("n_errors"),
        F.coalesce(F.sum("md_chars"), F.lit(0)).alias("md_chars"),
    ]


def job_stats(spark: SparkSession, out_dir: str
              ) -> tuple[DataFrame, DataFrame]:
    """``(lineage, metrics)`` of the committed output, computed from it.

    Lineage has one row per output file (``lineage_table_ddl``'s columns);
    each file is one task's share of one bucket, so it is the task-level
    audit. Metrics has one row per wave × kind × status. A bucket's
    ``wave`` is the manifest snapshot that committed it. Nothing here is
    stored state, so a crash cannot make it count a wave twice and a reader
    never sees a bucket before its commit; compaction only changes the
    lineage's files.
    """
    snaps = SnapshotStore(out_dir).read()["snapshots"]
    waves = spark.createDataFrame(
        [(b, i) for i, s in enumerate(snaps) for b in s["buckets"]],
        "bucket int, wave int")
    # the inner join keeps the buckets of the snapshots read here, even if
    # a commit lands before read_output reads the manifest again
    out = (read_output(spark, out_dir)
           .withColumn("file", F.input_file_name())
           .join(F.broadcast(waves), "bucket"))
    lineage = out.groupBy("wave", "file").agg(
        *_totals(), F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"))
    metrics = out.groupBy("conv_kind", "status", "wave").agg(*_totals())
    return lineage, metrics.select("conv_kind", "status", "n_docs",
                                   "md_chars", "wave")


def append_op_metrics(spark: SparkSession, out_dir: str, source: str,
                      counters: dict[str, int]) -> None:
    """Append operator-level counters (LSH dropped buckets/ids, archive
    cap rejections, pdfmedia skips, ...) to the job's ``metrics_ops``
    table — the ONE place a 100 TB run can see what its operators
    silently bounded, next to the per-wave conversion metrics.

    Rows are ``(source, key, value)``; idempotent callers should write
    once per run. Example::

        stats = {}
        pairs = minhash_candidate_pairs(docs, drop_stats=stats)
        ...
        append_op_metrics(spark, out_dir, "minhash_lsh", stats)
    """
    if not counters:
        return
    rows = [(source, str(k), int(v)) for k, v in sorted(counters.items())]
    (spark.createDataFrame(rows, "source string, key string, value long")
     .coalesce(1)
     .write.mode("append").parquet(os.path.join(out_dir, "metrics_ops")))


def _clean_uncommitted(out_dir: str, pending_buckets: list[int]) -> None:
    """Remove the bucket partitions a wave that crashed before its manifest
    commit left behind."""
    base = os.path.join(out_dir, "out_spans")
    for b in pending_buckets:
        d = os.path.join(base, f"bucket={b}")
        if os.path.isdir(d):
            shutil.rmtree(d)


def compact_output(spark: SparkSession, out_dir: str,
                   target_file_bytes: int = 512 * 1024 * 1024) -> dict:
    """Small-file compaction over committed buckets.

    Wave-committed output accumulates one file batch per (wave × task) in
    every bucket partition; at 1000-executor scale that is millions of tiny
    parquet files — scan planning and NameNode/object-store metadata become
    the bottleneck, not bytes. This rewrites each committed bucket to
    ``ceil(bucket_bytes / target_file_bytes)`` files (Iceberg's
    ``rewrite_data_files`` is the production twin — this is the parquet
    stand-in with the same swap-last atomicity).

    Only COMMITTED buckets are touched. The swap is two renames (bucket dir
    → saved old dir, compacted temp dir → bucket dir) and is therefore NOT
    atomic: a crash between them leaves the bucket dir briefly absent. What
    makes it safe is that (a) temp/old dirs live under ``out_dir/_compact``,
    OUTSIDE the ``out_spans`` partition-discovery root, so a concurrent or
    post-crash ``spark.read.parquet`` can never mis-infer the bucket column
    or double-read, and (b) ``_recover_compaction`` — run at the start of
    both :func:`compact_output` and :func:`read_output` — restores the saved
    old dir whenever the bucket dir is missing, so no committed data is ever
    lost and retries resume cleanly.
    """
    store = SnapshotStore(out_dir)
    _recover_compaction(out_dir, cleanup=True)
    committed = sorted(store.committed_buckets())
    base = os.path.join(out_dir, "out_spans")
    scratch = os.path.join(out_dir, "_compact")
    stats = {"buckets": 0, "files_before": 0, "files_after": 0}
    for b in committed:
        d = os.path.join(base, f"bucket={b}")
        if not os.path.isdir(d):
            continue
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        n_bytes = sum(os.path.getsize(os.path.join(d, f)) for f in files)
        n_target = max(1, -(-n_bytes // target_file_bytes))
        if len(files) <= n_target:
            continue
        os.makedirs(scratch, exist_ok=True)
        tmp = os.path.join(scratch, f"bucket={b}.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        (spark.read.parquet(d)
         .coalesce(n_target)
         .write.mode("overwrite").parquet(tmp))
        old = os.path.join(scratch, f"bucket={b}.old")
        shutil.rmtree(old, ignore_errors=True)
        os.rename(d, old)
        try:
            os.rename(tmp, d)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if os.path.isdir(d):
                # a concurrent read_output's recovery restored `old` back
                # to the live dir between our two renames — the live dir
                # again holds the original rows, so our saved copy is
                # redundant; leave this bucket for the next pass
                shutil.rmtree(old, ignore_errors=True)
            else:
                # rename failed for some OTHER reason while the live dir
                # is absent: `old` is now the only copy of a committed
                # bucket — restore it, never delete it
                try:
                    os.rename(old, d)
                except OSError:
                    pass  # a concurrent recovery won the restore race
                if not os.path.isdir(d):
                    raise  # committed data unreachable — fail loudly
            continue
        shutil.rmtree(old, ignore_errors=True)
        stats["buckets"] += 1
        stats["files_before"] += len(files)
        stats["files_after"] += n_target
    return stats


def _recover_compaction(out_dir: str, cleanup: bool = False) -> None:
    """Repair a crash mid-compaction swap (see :func:`compact_output`).

    A leftover ``_compact/bucket={b}.old`` with NO live bucket dir means the
    crash hit between the two swap renames — restore the old dir (the temp
    dir holds the same rows compacted; dropping it loses only compaction
    work, never data). A leftover ``.old`` WITH a live bucket dir means the
    swap completed — dropped only under ``cleanup=True``. Leftover ``.tmp``
    dirs are incomplete-or-superseded scratch — likewise ``cleanup`` only.

    ``cleanup=False`` (the :func:`read_output` mode) is restore-only and
    race-tolerant: a reader never deletes scratch a concurrently running
    :func:`compact_output` may still be mid-swap on, and a restore that
    loses the rename race (live dir reappeared) is simply skipped.
    :func:`compact_output` itself runs ``cleanup=True`` — it is the single
    writer, and its swap handles the one reader-vs-writer rename race.
    """
    scratch = os.path.join(out_dir, "_compact")
    if not os.path.isdir(scratch):
        return
    base = os.path.join(out_dir, "out_spans")
    for name in os.listdir(scratch):
        p = os.path.join(scratch, name)
        if name.endswith(".old"):
            live = os.path.join(base, name[:-len(".old")])
            if os.path.isdir(live):
                if cleanup:
                    shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.rename(p, live)
                except OSError:
                    pass  # concurrent swap completed or another recovery won
        elif name.endswith(".tmp") and cleanup:
            shutil.rmtree(p, ignore_errors=True)


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Committed output only (snapshot isolation: uncommitted bucket files
    from a crashed wave are filtered out). Empty result — not an error —
    when nothing has committed yet, or when the committed waves held no
    document."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from .schema import OUTPUT_SCHEMA

    store = SnapshotStore(out_dir)
    _recover_compaction(out_dir)
    committed = sorted(store.committed_buckets())
    path = os.path.join(out_dir, "out_spans")
    # copy: StructType.add would mutate the shared OUTPUT_SCHEMA. Given, not
    # inferred: an output of empty waves has no file to infer it from
    schema = StructType(
        list(OUTPUT_SCHEMA.fields) + [StructField("bucket", IntegerType())]
    )
    if not committed or not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    df = spark.read.schema(schema).parquet(path)
    return df.where(F.col("bucket").isin(committed))
