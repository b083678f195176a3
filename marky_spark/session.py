"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for the 100 TB design point (SURVEY.md §4.2) while remaining correct on
``local[N]``:

- AQE on (runtime coalesce of small post-filter partitions, skew splitting);
- Arrow batches bounded so a mega-document cannot blow Python-worker memory
  (the kernel is per-document; batch size only controls Arrow buffering);
- shuffle partition count sized for the local core count — on a real cluster
  this is overridden by AQE + ``spark.sql.shuffle.partitions`` at submit time.

The master is the caller's ``master=``, else the one ``spark-submit`` launched
this driver with, else ``local[$SPARK_GRAFT_CPUS or the CPUs we may use]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch sizing: the BYTE cap (Spark 4 default 64MB, pinned
    # explicitly below) is what protects Python workers from mega-doc
    # buffer bloat; the row cap only bounds pathological all-tiny-row
    # batches. Round 4 re-measured the round-2 "512 makes no difference"
    # A/B on the crawl-ingest chain (tiny ~450B docs, where per-batch
    # overhead dominates the 94µs html kernel): 512 → 8192 cut the
    # pinned 4-core wall 27%. Rich-corpus throughput is unchanged.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.compression.codec": "zstd",
    # deterministic session timezone for reproducible goldens
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app: str = "marky-spark", master: str | None = None,
              confs: dict[str, str] | None = None) -> SparkSession:
    builder = SparkSession.builder.appName(app)
    # spark-submit hands its driver a JVM (and this variable) with its master
    if master or "PYSPARK_GATEWAY_PORT" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        builder = builder.master(master or f"local[{cpus}]")
    merged = dict(DEFAULT_CONFS)
    if confs:
        merged.update(confs)
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
