"""Structured Streaming surface: event-time windowed aggregation with
watermarks over the events table shape (event_id, ts, user_id,
event_type, value, props).

The reference has no streaming (SURVEY.md §2.2); this module exists so
the engine covers the streaming-shaped workloads a web-scale pipeline
needs: ``readStream -> withWatermark -> window agg -> writeStream``.
``windowed_counts`` runs in batch as the ``events_windowed`` query in
__spark_entry__, so its window starts and counts are oracle-checked there;
streaming tests verify the incremental plan produces identical results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def windowed_counts(events: DataFrame, window: str = "1 hour", watermark: str = "30 minutes") -> DataFrame:
    """Tumbling event-time window counts per event_type, late data
    bounded by the watermark. Works on both batch and streaming DFs."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "cnt",
            "approx_users",
        )
    )


def stream_events_from_dir(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a parquet directory (one-file-per-batch
    simulation in tests; object-store drop-folder in production)."""
    return spark.readStream.schema(EVENTS_DDL).option(
        "maxFilesPerTrigger", 1
    ).parquet(path)


def run_to_memory_sink(stream_df: DataFrame, query_name: str):
    """Start the incremental query into an in-memory sink (tests/demos)."""
    return (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
