"""The benchmark's workloads and the ingest probe.

Each workload builds its inputs from the seed (the seed only moves the
document index fed to ``corpus.make_synth_doc`` and to the crawl body
generator), runs one job per ``run`` call and checks the output of that
job. Both run as a closed loop: one driver, one job at a time. Files go
under the run's work directory, which the caller removes.
"""
from __future__ import annotations

import gzip
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import gate
from marky_spark.convert import convert, convert_document
from marky_spark.corpus import make_synth_doc
from marky_spark.schema import INPUT_SCHEMA
from probes import Tracer, median

#: seed → first document index; far enough apart that seeds share no docs
OFFSET_STRIDE = 1_000_000
SAMPLE_ROWS = 48        # output rows compared byte for byte per job
KERNEL_SAMPLE = 1200    # docs timed single-thread on the driver (traced)


@dataclass
class JobResult:
    wall_s: float           # the job wall docs_per_s divides by
    resume_s: float         # restart → complete output
    summary: dict           # gate.summarize of the job's output
    failed: int             # input docs with a missing/duplicate/bad row
    mismatches: list        # sampled rows differing from the driver
    extra: dict = field(default_factory=dict)


def _synth_df(spark: SparkSession, offset: int, n: int, parts: int,
              **shape) -> DataFrame:
    def gen(batches):
        for pdf in batches:
            rows = [make_synth_doc(int(i), **shape) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return (spark.range(offset, offset + n, numPartitions=parts)
            .mapInPandas(gen, schema=INPUT_SCHEMA))


def _identity(batches):
    yield from batches


def floor_s(df: DataFrame, rounds: int = 3) -> float:
    """Per-task Python floor + Arrow crossing: an identity ``mapInPandas``
    over the same persisted input and partitions as the convert stage."""
    walls = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        df.mapInPandas(_identity, schema=df.schema).count()
        walls.append(time.perf_counter() - t0)
    return median(walls)


class Workload:
    name = ""
    n_docs = 0
    warm_up_jobs = 3    # untimed jobs before the timed window

    def __init__(self, seed: int, work_dir: str, cores: int):
        self.offset = (seed % 100_000) * OFFSET_STRIDE
        self.work_dir = work_dir
        self.parts = cores * 2
        self.rng = random.Random(seed)
        self.expected: gate.Expected | None = None
        self.df: DataFrame | None = None
        picks = self.rng.sample(range(self.n_docs), SAMPLE_ROWS)
        self.sample_docs = [self.input_doc(self.offset + i) for i in picks]
        self.sample_ids = [d for d, _ in self.sample_docs]
        self.expected_rows: dict[str, dict] = {}
        self.errors: list[str] = []   # failed checks outside the jobs

    # -- inputs ------------------------------------------------------------
    def input_doc(self, i: int) -> tuple[str, list[dict]]:
        raise NotImplementedError

    def build_inputs(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def _persist_inputs(self, df: DataFrame) -> None:
        """Persist and count ``df`` as the inputs, dropping the previous
        build's cache first so every build generates afresh."""
        if self.df is not None:
            self.df.unpersist(blocking=True)
        self.df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.expected = gate.expected_ids(self.df.select("doc_id"))

    def prepare_checks(self) -> None:
        """Driver-side expected rows for the sampled docs (outside timing)."""
        self.expected_rows = {d: convert_document(d, spans)
                              for d, spans in self.sample_docs}

    def kernel_docs(self) -> list[tuple[str, list[dict]]]:
        picks = self.rng.sample(range(self.n_docs),
                                min(KERNEL_SAMPLE, self.n_docs))
        return [self.input_doc(self.offset + i) for i in picks]

    # -- the job -----------------------------------------------------------
    def run(self, spark: SparkSession, tracer: Tracer) -> JobResult:
        raise NotImplementedError

    def _checked(self, wall: float, resume: float, summary: dict,
                 **extra) -> JobResult:
        return JobResult(wall, resume, summary,
                         gate.failed_docs(summary, self.expected),
                         gate.sample_mismatches(summary, self.expected_rows),
                         extra)

    def layer_metrics(self, spark: SparkSession,
                      traced: list[JobResult]) -> dict[str, float]:
        return {"convert.floor_s": floor_s(self.df)}


class MixConvert(Workload):
    """The default 10-kind mix, persisted, through ``convert()`` into an
    aggregate sink. Kernels dominate; ingest, skew split and sink are
    bypassed."""

    name = "mix_convert"
    n_docs = 20_000

    def input_doc(self, i):
        d = make_synth_doc(i)
        return d["doc_id"], d["spans"]

    def build_inputs(self, spark):
        self._persist_inputs(
            _synth_df(spark, self.offset, self.n_docs, self.parts))

    def run(self, spark, tracer):
        t0 = time.perf_counter()
        with tracer.span("convert.convert"):
            summary = gate.summarize(convert(self.df), self.sample_ids)
        wall = time.perf_counter() - t0
        # a noop-sink job keeps no state: a restart re-runs all of it
        return self._checked(wall, wall, summary)

    def layer_metrics(self, spark, traced):
        out = super().layer_metrics(spark, traced)
        metrics, errors = IngestProbe(self.offset, self.work_dir).measure(spark)
        self.errors += errors
        out.update(metrics)
        return out


# -- ingest -----------------------------------------------------------------

#: the planted corrupt WARC: a truncated record (one _drop_warc row)
CORRUPT_WARC = (b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999"
                b"\r\n\r\ntruncated")


class IngestProbe:
    """The ingest layer, measured on its own in the traced run of
    ``mix_convert``: tiny HTML records in ``.warc.gz`` files on local
    disk plus one planted corrupt file, parsed by ``docs_from_warc_dir``
    and counted. Disk read, gzip and the WARC stream parse; the corrupt
    file must surface as exactly one drop row."""

    n_docs = 20_000
    n_files = 16

    def __init__(self, offset: int, work_dir: str):
        from scripts import soak  # the crawl body and record generator

        self.soak = soak
        self.offset = offset
        self.crawl_dir = os.path.join(work_dir, "crawl")

    def _write_crawl(self) -> int:
        os.makedirs(self.crawl_dir)
        per = -(-self.n_docs // self.n_files)
        for f in range(self.n_files):
            path = os.path.join(self.crawl_dir, f"part{f:04d}.warc.gz")
            with gzip.open(path, "wb", compresslevel=1) as gz:
                for i in range(f * per, min((f + 1) * per, self.n_docs)):
                    i += self.offset
                    gz.write(self.soak._record(f"http://soak/{i}",
                                               self.soak._body(i)))
        with open(os.path.join(self.crawl_dir, "corrupt.warc"), "wb") as f:
            f.write(CORRUPT_WARC)
        return sum(os.path.getsize(os.path.join(self.crawl_dir, p))
                   for p in os.listdir(self.crawl_dir))

    def measure(self, spark: SparkSession) -> tuple[dict, list[str]]:
        from marky_spark.ingest import docs_from_warc_dir

        n_bytes = self._write_crawl()
        walls, rows = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            rows.append(docs_from_warc_dir(spark, self.crawl_dir).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(gate.is_drop().cast("long")).alias("drops"),
            ).collect()[0])
            walls.append(time.perf_counter() - t0)
        row = rows[0]
        errors = []
        if any(r != row for r in rows) or row["drops"] != 1 \
                or row["n"] != self.n_docs + 1:
            errors.append(f"ingest: {rows} for {self.n_docs} records and "
                          "one corrupt file")
        parse = median(walls)
        return ({"ingest.parse_s": parse,
                 "ingest.records": row["n"] - row["drops"],
                 "ingest.drops": row["drops"],
                 "ingest.mb_per_s": n_bytes / parse / 1e6}, errors)


# -- durable ----------------------------------------------------------------

class DurableSkewResume(Workload):
    """Adversarial byte skew (every 50th doc 100× the median) through
    ``run_convert_job``: 16 buckets planned as 3 waves, a crash injected
    after wave 1 (6 buckets), a resume that plans the 10 pending buckets
    as one wave, then ``read_output``."""

    name = "durable_skew_resume"
    n_docs = 4_000
    shape = {"mega_every": 50, "mega_factor": 100}
    job = {"n_buckets": 16, "waves": 3, "skew_factor": 4.0}
    resume_waves = 1    # the restart plans all pending buckets as one wave

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.out_dir = os.path.join(self.work_dir, "job_out")

    def input_doc(self, i):
        d = make_synth_doc(i, **self.shape)
        return d["doc_id"], d["spans"]

    def build_inputs(self, spark):
        self._persist_inputs(_synth_df(spark, self.offset, self.n_docs,
                                       self.parts, **self.shape))

    def run(self, spark, tracer):
        from marky_spark import pipeline

        shutil.rmtree(self.out_dir, ignore_errors=True)
        first_span = len(tracer.spans)
        with tracer.wrapped(pipeline, "skew_balanced",
                            "pipeline.skew_balanced"), \
                tracer.wrapped(pipeline.SnapshotStore, "commit",
                               "pipeline.commit"), \
                tracer.wrapped(pipeline, "convert", "convert.convert"):
            t0 = time.perf_counter()
            crashed = False
            with tracer.span("pipeline.run_convert_job"):
                try:
                    pipeline.run_convert_job(spark, self.df, self.out_dir,
                                             fail_after_wave=1, **self.job)
                except RuntimeError as exc:
                    if "injected failure" not in str(exc):
                        raise
                    crashed = True
            t1 = time.perf_counter()
            with tracer.span("pipeline.run_convert_job"):
                pipeline.run_convert_job(spark, self.df, self.out_dir,
                                         **dict(self.job,
                                                waves=self.resume_waves))
            t2 = time.perf_counter()
            with tracer.span("pipeline.read_output"):
                summary = gate.summarize(
                    pipeline.read_output(spark, self.out_dir),
                    self.sample_ids)
            t3 = time.perf_counter()
        store = pipeline.SnapshotStore(self.out_dir)
        committed = store.committed_buckets()
        split, waves, mark = 0.0, [], 0.0
        for sp in tracer.spans[first_span:]:
            if sp.name == "pipeline.skew_balanced":
                split += sp.end - sp.start
            elif sp.name == "pipeline.run_convert_job":
                mark = sp.start
            elif sp.name == "pipeline.commit":  # a wave ends at its commit
                waves.append(sp.end - mark)
                mark = sp.end
        res = self._checked(t2 - t0, t2 - t1, summary,
                            read_output_s=t3 - t2, skew_split_s=split,
                            wave_s=waves,
                            snapshots=store.read()["snapshots"],
                            written=_tree_size(self.out_dir))
        if not crashed or committed != set(range(self.job["n_buckets"])):
            res.failed = max(res.failed, 1)  # resume contract broken
        return res

    def layer_metrics(self, spark, traced):
        from marky_spark.pipeline import with_bucket

        out = super().layer_metrics(spark, traced)
        res = traced[-1]
        snaps = res.extra["snapshots"]
        # wave walls from the spans (monotonic clock), docs from the manifest
        secs = res.extra["wave_s"]
        docs = [s["stats"]["n_docs"] for s in snaps]
        sized = with_bucket(self.df, self.job["n_buckets"]).withColumn(
            "_doc_bytes", F.expr(
                "aggregate(spans, 0L, (a, s) -> a + length(coalesce(s.text, '')))"))
        tail = 0
        for s in snaps:  # the tail each wave's skew split isolated
            wave = sized.where(F.col("bucket").isin(s["buckets"]))
            p99 = wave.approxQuantile("_doc_bytes", [0.99], 0.01)
            threshold = (p99[0] if p99 else 0.0) * self.job["skew_factor"]
            tail += wave.where(F.col("_doc_bytes") > threshold).count()
        out.update({
            "pipeline.skew_split_s": res.extra["skew_split_s"],
            "pipeline.tail_docs": tail,
            "pipeline.waves": len(snaps),
            "pipeline.wave_p50_s": median(secs),
            "pipeline.wave_max_s": max(secs),
            "pipeline.wave_overhead_s": _intercept(docs, secs),
            "pipeline.bytes_written": res.extra["written"][0],
            "pipeline.files_written": res.extra["written"][1],
            "pipeline.read_output_s": res.extra["read_output_s"],
        })
        return out


def _tree_size(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, name))
            n_files += 1
    return n_bytes, n_files


def _intercept(xs: list[float], ys: list[float]) -> float:
    """Least-squares intercept of ``ys`` against ``xs``: the fixed cost
    of a wave independent of its doc count."""
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return my
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
    return my - slope * mx


WORKLOADS = {w.name: w for w in (MixConvert, DurableSkewResume)}
