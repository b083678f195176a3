"""Structured Streaming surface.

The reference is strictly batch (SURVEY.md §2.2: no streaming operators), so
the batch wave/commit pipeline (pipeline.py) is the primary ingestion path.
This module is the *streaming substrate* a continuously-fed corpus needs:

- ``stream_convert`` — file-source streaming ingestion of span documents
  through the SAME conversion kernel (``convert()`` is a stateless map, so
  batch and streaming share one code path), exactly-once via the file sink's
  commit log + checkpoint.
- ``stream_event_metrics`` — watermarked sliding-window aggregation over an
  event stream (late data dropped past the watermark), the standard
  monitoring side-channel for a long-running ingestion job.

The streaming queries run under ``trigger(availableNow=True)`` so they run
to completion in tests and backfills while remaining genuine streaming
queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .convert import convert
from .schema import INPUT_SCHEMA


def stream_convert(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming conversion: parquet file source → convert kernel → parquet
    sink with exactly-once checkpointing."""
    stream = spark.readStream.schema(INPUT_SCHEMA).parquet(input_dir)
    return (
        convert(stream).writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_convert_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> StreamingQuery:
    """Streaming conversion with content-level dedup: documents whose
    converted markdown already streamed through (same normalized-text
    fingerprint) within the watermark window are dropped, exactly-once.

    ``dropDuplicatesWithinWatermark`` keys state by the fingerprint and
    lets the watermark evict it — unbounded-state-safe, unlike a bare
    ``dropDuplicates`` on a stream. The arrival timestamp only drives state
    eviction; which duplicate survives is the first to arrive (stable under
    replay because the file source orders batches by its commit log).
    """
    reader = spark.readStream.schema(INPUT_SCHEMA)
    stream = reader.parquet(input_dir)
    out = convert(stream)
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("markdown")),
                                        r"\s+", " ")))
    deduped = (
        out.withColumn("fingerprint", fp)
        .withColumn("arrival_ts", F.current_timestamp())
        .withWatermark("arrival_ts", watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .drop("arrival_ts")
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_metrics(events: DataFrame,
                           window: str = "1 hour",
                           watermark: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling-window metrics (works on batch or stream —
    the streaming variant drops late data past the watermark)."""
    # watermarks require TIMESTAMP (LTZ); parquet NTZ is cast (session TZ is
    # pinned to UTC in session.py, so batch/stream windows agree)
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if events.isStreaming:
        src = src.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "total_value",
        )
    )


def stream_event_metrics(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "event_metrics",
    schema=None,
) -> StreamingQuery:
    """Streaming windowed metrics into an in-memory sink (monitoring table)."""
    if schema is None:
        schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    out = windowed_event_metrics(stream)
    # update (not complete) mode: complete would retain every window's state
    # forever and fold arbitrarily-late events into old windows, silently
    # voiding the watermark; update lets the watermark evict state and drop
    # late data as documented. The monitoring consumer takes the latest row
    # per (window_start, event_type).
    return (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
