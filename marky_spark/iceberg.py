"""Iceberg production storage layer (thin interface + local stand-in).

The production deployment (north rule) stores the corpus and outputs in
Iceberg tables with explicit bucket partitioning on ``doc_id``; the sandbox
has no Iceberg runtime jar (SURVEY.md §7.0), so this module:

- emits the exact production DDL/DML strings (unit-tested shape) so the jar
  is the only missing piece;
- detects at runtime whether an Iceberg catalog is configured and routes
  writes to ``writeTo(...).append()`` (Iceberg, atomic snapshot) or to the
  parquet + JSON snapshot-log stand-in (pipeline.SnapshotStore, same
  resume semantics — committed buckets are the snapshot, and each
  snapshot names the one ``out_spans`` directory that holds its files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DEFAULT_BUCKETS = 1024  # 10^12 docs / 1024 buckets ≈ 10^9 docs per bucket


def input_table_ddl(table: str = "corpus.documents_spans",
                    n_buckets: int = DEFAULT_BUCKETS) -> str:
    """Production DDL for the input span table (input_hint shape)."""
    return f"""CREATE TABLE IF NOT EXISTS {table} (
  doc_id STRING NOT NULL,
  spans  ARRAY<STRUCT<kind: STRING, text: STRING, media_ref: STRING, offset: INT>>
)
USING iceberg
PARTITIONED BY (bucket({n_buckets}, doc_id))
TBLPROPERTIES (
  'write.format.default' = 'parquet',
  'write.parquet.compression-codec' = 'zstd',
  'write.distribution-mode' = 'hash',
  'write.target-file-size-bytes' = '536870912'
)"""


def output_table_ddl(table: str = "corpus.documents_markdown",
                     n_buckets: int = DEFAULT_BUCKETS) -> str:
    """Production DDL for the conversion output table."""
    return f"""CREATE TABLE IF NOT EXISTS {table} (
  doc_id      STRING NOT NULL,
  conv_kind   STRING,
  status      STRING,
  error       STRING,
  n_in_spans  INT,
  n_out_spans INT,
  md_chars    BIGINT,
  out_spans   ARRAY<STRUCT<kind: STRING, text: STRING, media_ref: STRING, offset: INT>>,
  markdown    STRING
)
USING iceberg
PARTITIONED BY (bucket({n_buckets}, doc_id))
TBLPROPERTIES (
  'write.format.default' = 'parquet',
  'write.parquet.compression-codec' = 'zstd',
  'write.distribution-mode' = 'hash',
  'commit.retry.num-retries' = '10'
)"""


def lineage_table_ddl(table: str = "corpus.conversion_lineage") -> str:
    return f"""CREATE TABLE IF NOT EXISTS {table} (
  wave INT, file STRING, n_docs BIGINT, n_errors BIGINT,
  md_chars BIGINT, min_doc_id STRING, max_doc_id STRING
)
USING iceberg"""


def resume_filter_sql(table: str, snapshot_id: int,
                      input_table: str = "corpus.documents_spans") -> str:
    """Production resume: anti-join the input against doc_ids already
    committed as of a snapshot (incremental read avoids scanning history).
    ``input_table`` must match the table created by :func:`input_table_ddl`."""
    return (
        f"SELECT i.* FROM {input_table} i LEFT ANTI JOIN "
        f"(SELECT doc_id FROM {table} VERSION AS OF {snapshot_id}) o "
        f"ON i.doc_id = o.doc_id"
    )


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is configured on this session."""
    conf = spark.conf
    try:
        ext = conf.get("spark.sql.extensions", "") or ""
    except Exception:  # noqa: BLE001
        ext = ""
    return "IcebergSparkSessionExtensions" in ext


def write_output(df: DataFrame, spark: SparkSession, out: str,
                 n_buckets: int = 64) -> str:
    """Route to Iceberg (atomic snapshot append) or the local parquet +
    snapshot-log stand-in. Returns the mode used ('iceberg' | 'parquet').

    The fallback is a pipeline wave: the same writer
    (``pipeline.write_wave``) and the same put-if-absent commit of the
    next snapshot, with a ``bucket`` column, so ``pipeline.read_output``
    and resume semantics work identically on both paths. The commit's
    bucket list and row count come from the write: one Spark job."""
    if iceberg_available(spark):
        df.writeTo(out).append()
        return "iceberg"
    from pyspark.sql import functions as F

    from .pipeline import SnapshotStore, with_bucket, write_wave

    store = SnapshotStore(out)
    bucketed = df if "bucket" in df.columns else with_bucket(df, n_buckets)
    got = write_wave(store, bucketed, len(store.read()["snapshots"]),
                     F.count(F.lit(1)).alias("n_docs"),
                     F.collect_set("bucket").alias("buckets"))
    store.commit(sorted(got["buckets"]),
                 {"n_docs": got["n_docs"], "writer": "write_output"})
    return "parquet"
