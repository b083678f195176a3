"""The production job: bucketed, resumable, skew-aware conversion.

Scale design (SURVEY.md §3.4, §4.2) — written for a 1000-executor cluster
over 10^12 documents, evidenced locally:

- **Bucketing**: documents hash into ``n_buckets`` stable buckets
  (``pmod(xxhash64(doc_id), B)``), kept as the output's ``bucket``
  column. In production this is an Iceberg table with a
  ``bucket(B, doc_id)`` partition transform; locally a parquet dir + a
  JSON manifest plays the snapshot role (same resume logic either way —
  §7.0).
- **Waves + snapshot commit**: buckets are processed in waves. Wave ``k``
  (the index of the snapshot that commits it) is one unpartitioned parquet
  write to ``out_spans/wave=<k>/``, one file per task; after the files are
  durably written the manifest commit makes the wave visible (atomic
  rename). Readers prune to ``wave <`` the snapshot count, so a wave that
  crashed before its commit is invisible even before a resume deletes its
  directory. Restart skips committed buckets — resume costs one metadata
  read + a bucket filter, NOT an anti-join against 10^12 output rows.
- **Skew**: the first call of a job sizes every pending bucket with one
  JVM-side aggregate (payload bytes and largest doc, from
  ``aggregate(spans, ...)``) and records the rows in the manifest before
  its first wave; a resume plans from those rows with no sizing job. Each
  wave is planned from the rows with no Spark job. The task count
  comes from Spark's own per-task byte budget
  (``spark.sql.files.maxPartitionBytes``, at least ``defaultParallelism``
  tasks); a doc over ``1/skew_factor`` of a task's share is tail and is
  round-robin repartitioned, so no task serializes several multi-GB
  documents, while the bulk flows into conversion narrowly.
- **Lineage + metrics**: a view over the committed output, not stored
  state (:func:`job_stats`): per-file lineage (each output file is one
  task's share of one wave) and per-kind metrics, each row's wave read
  from its path. Built from committed waves only, they are exactly-once
  across crash + resume by construction. A commit's totals come from an
  ``Observation`` on the wave's own write: one Spark job.
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

    ``manifest.json`` holds the committed bucket list and one snapshot per
    committed wave; every manifest write is atomic (:meth:`write`).
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

    def write(self, manifest: dict) -> None:
        """Replace the manifest atomically: write-to-temp + ``os.replace``."""
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self.manifest_path)

    def commit(self, bucket_ids: list[int], stats: dict) -> None:
        manifest = self.read()
        manifest["committed_buckets"] = sorted(
            set(manifest["committed_buckets"]) | set(bucket_ids)
        )
        manifest["snapshots"].append(
            {"buckets": sorted(bucket_ids), "stats": stats}
        )
        self.write(manifest)


def wave_dir(out_dir: str, wave: int) -> str:
    """The directory of wave ``wave``: the files snapshot ``wave`` commits."""
    return os.path.join(out_dir, "out_spans", f"wave={wave}")


def clean_uncommitted(out_dir: str) -> int:
    """Delete the wave directories no snapshot committed: files a wave
    wrote before a crash kept it from its commit. Returns the next wave's
    index, the snapshot count.

    Iceberg needs no equivalent (uncommitted files are invisible to the
    snapshot); readers of the stand-in already prune them, and this frees
    the directory for the wave that re-runs those buckets."""
    n_waves = len(SnapshotStore(out_dir).read()["snapshots"])
    base = os.path.join(out_dir, "out_spans")
    if os.path.isdir(base):
        for name in os.listdir(base):
            key, _, k = name.partition("=")
            if key == "wave" and int(k) >= n_waves:
                shutil.rmtree(os.path.join(base, name))
    return n_waves


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

    The first call sizes the pending buckets (:func:`bucket_sizes`) and
    records the rows in the manifest; a later call plans from them when
    every pending bucket has one, and sizes once otherwise. Every wave is
    planned from those rows (:func:`plan_wave`); each wave filters
    ``input_df`` again, so callers persist an input that is costly to
    recompute. ``fail_after_wave`` injects a crash after N committed waves
    (tests the resume contract).
    """
    store = SnapshotStore(out_dir)
    manifest = store.read()
    committed = set(manifest["committed_buckets"])

    bucketed = with_bucket(input_df, n_buckets)
    pending = [b for b in range(n_buckets) if b not in committed]
    results: list[WaveResult] = []
    if not pending:
        return results

    # exactly-once across crash+resume: a wave that wrote files but died
    # before its manifest commit left an orphan wave directory, which the
    # wave that re-runs its buckets writes afresh
    wave_base = clean_uncommitted(out_dir)
    sizes = _pending_sizes(store, manifest, bucketed, pending)

    per_wave = max(1, -(-len(pending) // waves))
    for w in range(0, len(pending), per_wave):
        wave_buckets = pending[w:w + per_wave]
        wave_id = wave_base + w // per_wave
        t0 = time.perf_counter()
        plan = plan_wave(spark, [sizes[b] for b in wave_buckets], skew_factor)
        wave_df = bucketed.where(F.col("bucket").isin(wave_buckets))
        out = convert(skew_balanced(wave_df.drop("bucket"), plan))
        # the commit's totals come back with the write: one Spark job
        observed = Observation()
        t_write = time.perf_counter()
        (with_bucket(out, n_buckets).observe(observed, *_totals())
         .write.parquet(wave_dir(out_dir, wave_id)))
        totals = observed.get
        t1 = time.perf_counter()
        dt = t1 - t0
        store.commit(wave_buckets, {
            **totals, "seconds": round(dt, 3),
            "write_s": round(t1 - t_write, 3), **asdict(plan),
        })
        results.append(WaveResult(wave_id, wave_buckets, totals["n_docs"],
                                  totals["n_errors"], dt))
        if fail_after_wave is not None and len(results) >= fail_after_wave:
            raise RuntimeError(f"injected failure after wave {len(results)}")
    return results


def _pending_sizes(store: SnapshotStore, manifest: dict,
                   bucketed: DataFrame, pending: list[int]
                   ) -> dict[int, tuple[int, int]]:
    """``bucket -> (bytes, largest doc)`` for every pending bucket.

    Read from the manifest's ``bucket_sizes`` when it has every pending
    bucket; otherwise one :func:`bucket_sizes` pass, whose rows (empty
    buckets as ``(0, 0)``) and seconds (``sizing_s``, one entry per pass)
    go into the manifest in one atomic write before the first wave. The
    rows only steer :func:`plan_wave`, never an output row."""
    recorded = manifest.get("bucket_sizes", {})
    if all(str(b) in recorded for b in pending):
        return {b: tuple(recorded[str(b)]) for b in pending}
    t0 = time.perf_counter()
    sized = bucket_sizes(bucketed.where(F.col("bucket").isin(pending)))
    sizes = {b: sized.get(b, (0, 0)) for b in pending}
    manifest["bucket_sizes"] = {**recorded,
                                **{str(b): list(v) for b, v in sizes.items()}}
    manifest.setdefault("sizing_s", []).append(
        round(time.perf_counter() - t0, 3))
    store.write(manifest)
    return sizes


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
    each file is one task's share of one wave, so it is the task-level
    audit. Metrics has one row per wave × kind × status. A row's ``wave``
    is read from its path: the snapshot that committed it. Nothing here is
    stored state, so a crash cannot make it count a wave twice and a reader
    never sees a wave before its commit; compaction only changes the
    lineage's files.
    """
    out = read_output(spark, out_dir).withColumn("file", F.input_file_name())
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


def compact_output(spark: SparkSession, out_dir: str,
                   target_file_bytes: int = 512 * 1024 * 1024) -> dict:
    """Small-file compaction over committed waves.

    A wave writes one file per task; at 1000-executor scale and many waves
    that is millions of small parquet files — scan planning and
    NameNode/object-store metadata become the bottleneck, not bytes. This
    rewrites each committed wave directory to
    ``ceil(wave_bytes / target_file_bytes)`` files (Iceberg's
    ``rewrite_data_files`` is the production twin — this is the parquet
    stand-in with the same swap-last atomicity).

    Only COMMITTED waves are touched. The swap is two renames (wave dir →
    saved old dir, compacted temp dir → wave dir) and is therefore NOT
    atomic: a crash between them leaves the wave dir briefly absent. What
    makes it safe is that (a) temp/old dirs live under ``out_dir/_compact``,
    OUTSIDE the ``out_spans`` partition-discovery root, so a concurrent or
    post-crash ``spark.read.parquet`` can never mis-infer the wave column
    or double-read, and (b) ``_recover_compaction`` — run at the start of
    both :func:`compact_output` and :func:`read_output` — restores the saved
    old dir whenever the wave dir is missing, so no committed data is ever
    lost and retries resume cleanly.
    """
    store = SnapshotStore(out_dir)
    _recover_compaction(out_dir, cleanup=True)
    n_waves = len(store.read()["snapshots"])
    scratch = os.path.join(out_dir, "_compact")
    stats = {"waves": 0, "files_before": 0, "files_after": 0}
    for k in range(n_waves):
        d = wave_dir(out_dir, k)
        if not os.path.isdir(d):
            continue
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        n_bytes = sum(os.path.getsize(os.path.join(d, f)) for f in files)
        n_target = max(1, -(-n_bytes // target_file_bytes))
        if len(files) <= n_target:
            continue
        os.makedirs(scratch, exist_ok=True)
        tmp = os.path.join(scratch, f"wave={k}.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        (spark.read.parquet(d)
         .coalesce(n_target)
         .write.mode("overwrite").parquet(tmp))
        old = os.path.join(scratch, f"wave={k}.old")
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
                # redundant; leave this wave for the next pass
                shutil.rmtree(old, ignore_errors=True)
            else:
                # rename failed for some OTHER reason while the live dir
                # is absent: `old` is now the only copy of a committed
                # wave — restore it, never delete it
                try:
                    os.rename(old, d)
                except OSError:
                    pass  # a concurrent recovery won the restore race
                if not os.path.isdir(d):
                    raise  # committed data unreachable — fail loudly
            continue
        shutil.rmtree(old, ignore_errors=True)
        stats["waves"] += 1
        stats["files_before"] += len(files)
        stats["files_after"] += n_target
    return stats


def _recover_compaction(out_dir: str, cleanup: bool = False) -> None:
    """Repair a crash mid-compaction swap (see :func:`compact_output`).

    A leftover ``_compact/wave={k}.old`` with NO live wave dir means the
    crash hit between the two swap renames — restore the old dir (the temp
    dir holds the same rows compacted; dropping it loses only compaction
    work, never data). A leftover ``.old`` WITH a live wave dir means the
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
    """Committed output only, with its ``bucket`` and ``wave`` columns
    (snapshot isolation: a wave directory no snapshot committed yet is
    pruned). Empty result — not an error — when nothing has committed yet,
    or when the committed waves held no document."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from .schema import OUTPUT_SCHEMA

    store = SnapshotStore(out_dir)
    _recover_compaction(out_dir)
    n_waves = len(store.read()["snapshots"])
    path = os.path.join(out_dir, "out_spans")
    # copy: StructType.add would mutate the shared OUTPUT_SCHEMA. Given, not
    # inferred: a job that has not committed has no file to infer it from
    schema = StructType(list(OUTPUT_SCHEMA.fields) + [
        StructField("bucket", IntegerType()),
        StructField("wave", IntegerType())])
    if not n_waves or not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    df = spark.read.schema(schema).parquet(path)
    return df.where(F.col("wave") < n_waves)
