"""The production job: bucketed, resumable, skew-aware conversion.

Scale design (SURVEY.md §3.4, §4.2) — written for a 1000-executor cluster
over 10^12 documents, evidenced locally:

- **Bucketing**: documents hash into ``n_buckets`` stable buckets
  (``pmod(xxhash64(doc_id), B)``), kept as the output's ``bucket``
  column. In production this is an Iceberg table with a
  ``bucket(B, doc_id)`` partition transform; locally parquet directories
  + a JSON snapshot log play the snapshot role (same resume logic either
  way — §7.0).
- **Waves + snapshot commit**: buckets are processed in waves. Wave ``k``
  is one unpartitioned parquet write, with ``wave`` as a column, to a
  directory of its writer's own (:func:`write_wave`), one file per task;
  its commit creates ``_snapshots/<k>.json`` naming that directory unless
  another writer created it first (put-if-absent, as Delta Lake's
  ``_delta_log/<version>.json``; the loser gets :class:`StaleWriter`).
  Readers read exactly the named directories. Restart skips committed
  buckets — resume costs one read of the snapshot records + a bucket
  filter, NOT an anti-join against 10^12 output rows.
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
  from its ``wave`` column. Built from committed waves only, they are
  exactly-once across crash + resume by construction. A commit's totals
  come from an ``Observation`` on the wave's own write: one Spark job.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Iterable
from dataclasses import asdict, dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .convert import convert


class StaleWriter(RuntimeError):
    """Another writer committed the snapshot index this writer claimed."""


class SnapshotStore:
    """Snapshot log of a job directory (Iceberg-semantics stand-in).

    Snapshot ``k`` is ``_snapshots/<k>.json``, created once: it names the
    directory under ``out_spans`` that holds its rows, its buckets, its
    stats and the token of the writer that committed it. ``manifest.json``
    holds only the job's planning state (``job_config``, ``bucket_sizes``,
    ``sizing_s``). :meth:`read` joins the two. A store's token is unique
    to the store, so each call that writes gets directories of its own.
    """

    _JOB_KEYS = ("job_config", "bucket_sizes", "sizing_s")

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.manifest_path = os.path.join(out_dir, "manifest.json")
        self.token = uuid.uuid4().hex[:12]
        self._staged: tuple[int, str] | None = None
        os.makedirs(os.path.join(out_dir, "_snapshots"), exist_ok=True)

    def read(self) -> dict:
        """The manifest's keys plus ``snapshots`` (each snapshot's record,
        in index order) and ``committed_buckets``."""
        manifest = {}
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                manifest = json.load(f)
        snaps = []
        # a writer claims index k only after k - 1 committed: no gaps
        while os.path.exists(self._record(len(snaps))):
            with open(self._record(len(snaps))) as f:
                snaps.append(json.load(f))
        return {**manifest, "snapshots": snaps, "committed_buckets": sorted(
            {b for s in snaps for b in s["buckets"]})}

    def committed_buckets(self) -> set[int]:
        return set(self.read()["committed_buckets"])

    def committed_dirs(self) -> list[str]:
        """The directories the snapshots name, in snapshot order."""
        return [self.path(s["dir"]) for s in self.read()["snapshots"]]

    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, "out_spans", name)

    def dirs_at(self, wave: int) -> list[str]:
        """Names of every directory written for snapshot index ``wave``."""
        base = self.path("")
        names = os.listdir(base) if os.path.isdir(base) else []
        return sorted(n for n in names if n.startswith(f"wave={wave}-"))

    def write(self, manifest: dict) -> None:
        """Replace the manifest's planning keys atomically (write-to-temp +
        ``os.replace``); the snapshots are not the manifest's to write."""
        os.replace(self._temp(self.manifest_path, {
            k: manifest[k] for k in self._JOB_KEYS if k in manifest}),
            self.manifest_path)

    def stage(self, wave: int) -> str:
        """The directory this store writes snapshot ``wave``'s rows to,
        ``out_spans/wave=<k>-<token>``; :meth:`commit` publishes it."""
        self._staged = (wave, f"wave={wave}-{self.token}")
        return self.path(self._staged[1])

    def commit(self, bucket_ids: list[int], stats: dict) -> None:
        """Commit the staged directory as snapshot ``k``, put-if-absent:
        the record is written whole to a temp file and hard-linked to
        ``_snapshots/<k>.json``, which fails if any writer got there first.
        The loser deletes its directory and raises :class:`StaleWriter`;
        the winner deletes every other directory at index ``k``, since
        none of them can commit now."""
        (wave, name), self._staged = self._staged, None
        record = {"dir": name, "buckets": sorted(bucket_ids),
                  "stats": stats, "token": self.token}
        tmp = self._temp(self._record(wave), record)
        try:
            os.link(tmp, self._record(wave))
        except FileExistsError:
            shutil.rmtree(self.path(name), ignore_errors=True)
            raise StaleWriter(f"snapshot {wave} was committed by another "
                              f"writer; {name} is deleted") from None
        finally:
            os.unlink(tmp)
        self.drop_unnamed(wave, name)

    def publish(self, wave: int, record: dict) -> None:
        """Replace committed snapshot ``wave``'s record with one ``os.replace``
        (compaction: the same rows in another directory)."""
        os.replace(self._temp(self._record(wave), record), self._record(wave))

    def drop_unnamed(self, wave: int, name: str) -> None:
        """Delete the directories at committed index ``wave`` other than
        ``name``, the one its snapshot names: none can ever be read."""
        for other in self.dirs_at(wave):
            if other != name:
                shutil.rmtree(self.path(other), ignore_errors=True)

    def _record(self, wave: int) -> str:
        return os.path.join(self.out_dir, "_snapshots", f"{wave}.json")

    def _temp(self, path: str, obj: dict) -> str:
        """Write ``obj`` whole to a temp file next to ``path``."""
        tmp = f"{path}.{self.token}.tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1)
        return tmp


def wave_dir(out_dir: str, wave: int) -> str:
    """The directory snapshot ``wave`` names; before that snapshot
    commits, the first directory a writer left at its index."""
    store = SnapshotStore(out_dir)
    snaps = store.read()["snapshots"]
    return store.path(snaps[wave]["dir"] if wave < len(snaps)
                      else store.dirs_at(wave)[0])


def write_wave(store: SnapshotStore, df: DataFrame, wave: int,
               *observe: Column, bucket: Column | None = None) -> dict:
    """Write ``df`` as snapshot ``wave``'s rows, with ``wave`` as a
    column (and ``bucket``, when given), to the directory
    :meth:`SnapshotStore.stage` gives; the caller's
    :meth:`SnapshotStore.commit` then publishes it. Every writer of a job
    directory goes through here. Returns ``observe``'s aggregates over the
    written rows, computed by the write itself: one Spark job."""
    cols = {"wave": F.lit(wave)}
    if bucket is not None:
        cols = {"bucket": bucket, **cols}
    df = df.withColumns(cols)  # one projection: each call re-analyses the plan
    observed = Observation()
    if observe:
        df = df.observe(observed, *observe)
    df.write.parquet(store.stage(wave))
    return observed.get if observe else {}


def pending_waves(manifest: dict, n_buckets: int, waves: int
                  ) -> list[tuple[int, list[int]]]:
    """``(snapshot index, buckets)`` of each wave over the buckets no
    snapshot of ``manifest`` (:meth:`SnapshotStore.read`) committed:
    ``waves`` even slices, indexed on from the snapshot count."""
    committed = set(manifest["committed_buckets"])
    pending = [b for b in range(n_buckets) if b not in committed]
    per_wave = max(1, -(-len(pending) // waves))
    base = len(manifest["snapshots"])
    return [(base + i, pending[w:w + per_wave])
            for i, w in enumerate(range(0, len(pending), per_wave))]


def bucket_of(n_buckets: int) -> Column:
    """A document's bucket: ``pmod(xxhash64(doc_id), n_buckets)``."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", bucket_of(n_buckets))


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


def skew_balanced(df: DataFrame, plan: WavePlan,
                  in_parts: int | None = None) -> DataFrame:
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
    filter, ``Union`` or ``Exchange``. ``in_parts`` is ``df``'s partition
    count when the caller knows it (reading it plans ``df`` on the driver).
    """
    if in_parts is None:
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
    recompute. The call's waves commit the snapshot indexes after the last
    one it read (:func:`pending_waves`); if another writer commits one of
    them first, the call raises :class:`StaleWriter` and a resume picks up
    what is still pending. ``fail_after_wave`` injects a crash after N
    committed waves (tests the resume contract).
    """
    store = SnapshotStore(out_dir)
    manifest = store.read()
    todo = pending_waves(manifest, n_buckets, waves)
    if not todo:
        return []
    bucket = bucket_of(n_buckets)
    sizes = _pending_sizes(store, manifest, input_df, bucket,
                           [b for _, bs in todo for b in bs])
    # a filter keeps the partitioning, so every wave's input has as many
    # partitions as input_df
    in_parts = input_df.rdd.getNumPartitions()

    results: list[WaveResult] = []
    for wave_id, wave_buckets in todo:
        t0 = time.perf_counter()
        plan = plan_wave(spark, [sizes[b] for b in wave_buckets], skew_factor)
        wave_df = input_df.where(bucket.isin(wave_buckets))
        out = convert(skew_balanced(wave_df, plan, in_parts))
        t_write = time.perf_counter()
        totals = write_wave(store, out, wave_id, *_totals(), bucket=bucket)
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
                   input_df: DataFrame, bucket: Column, pending: list[int]
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
    sized = bucket_sizes(input_df.where(bucket.isin(pending))
                         .withColumn("bucket", bucket))
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
    is the index of the snapshot that committed it. Nothing here is
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
    """Small-file compaction over committed snapshots.

    A wave writes one file per task; at 1000-executor scale and many waves
    that is millions of small parquet files — scan planning and
    NameNode/object-store metadata become the bottleneck, not bytes. This
    rewrites each committed snapshot's directory to
    ``ceil(bytes / target_file_bytes)`` files in a fresh directory, points
    the snapshot at it with one ``os.replace`` of its record
    (:meth:`SnapshotStore.publish`) and deletes the old directory
    (Iceberg's ``rewrite_data_files`` is the production twin). Readers read
    the directory the record names, so a crash at any point leaves them one
    copy of the rows; the next pass deletes the unnamed leftover, as a
    commit deletes a losing writer's directory.
    """
    store = SnapshotStore(out_dir)
    stats = {"waves": 0, "files_before": 0, "files_after": 0}
    for k, snap in enumerate(store.read()["snapshots"]):
        store.drop_unnamed(k, snap["dir"])
        d = store.path(snap["dir"])
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        n_bytes = sum(os.path.getsize(os.path.join(d, f)) for f in files)
        n_target = max(1, -(-n_bytes // target_file_bytes))
        if len(files) <= n_target:
            continue
        new = store.stage(k)
        spark.read.parquet(d).coalesce(n_target).write.parquet(new)
        store.publish(k, {**snap, "dir": os.path.basename(new)})
        shutil.rmtree(d)
        stats["waves"] += 1
        stats["files_before"] += len(files)
        stats["files_after"] += n_target
    return stats


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Committed output only, with its ``bucket`` and ``wave`` columns:
    exactly the directories the snapshots name (snapshot isolation: a
    directory no snapshot names is never read). Empty result — not an
    error — when nothing has committed yet, or when the committed waves
    held no document."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from .schema import OUTPUT_SCHEMA

    # copy: StructType.add would mutate the shared OUTPUT_SCHEMA. Given, not
    # inferred: a job that has not committed has no file to infer it from
    schema = StructType(list(OUTPUT_SCHEMA.fields) + [
        StructField("bucket", IntegerType()),
        StructField("wave", IntegerType())])
    dirs = SnapshotStore(out_dir).committed_dirs()
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*dirs)
