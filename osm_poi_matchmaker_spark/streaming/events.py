"""Event-time windowed aggregation — batch and Structured Streaming paths.

The reference is purely batch (SURVEY.md §2.8); the engine still ships a
streaming surface because a 100 TB pipeline ingests crawl events
continuously. The SAME transformation function serves both:

- batch: ``windowed_event_stats(spark.read.parquet(...))``
- stream: ``spark.readStream...`` → :func:`windowed_event_stats` →
  ``writeStream`` with a watermark (late events beyond 1 h dropped).

Tumbling windows align to the epoch, so the batch result equals a
``date_trunc('hour')`` aggregate — which is exactly how the DuckDB oracle
validates it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .per_batch import read_stream


def windowed_event_stats(
    events: DataFrame, window: str = "1 hour", with_watermark: bool = False
) -> DataFrame:
    """Per (tumbling window, event_type): count + decimal-exact value sum.

    ``with_watermark=True`` for the streaming path (state cleanup at 1
    window of lateness).
    """
    src = events
    if with_watermark:
        # parquet TIMESTAMP_NTZ → TIMESTAMP: watermarks require an
        # instant-typed event-time column (session tz is pinned to UTC)
        src = src.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
            "ts", window
        )
    agg = (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return agg


def run_stream_once(spark, src_dir: str, schema, out_table: str = "event_stats") -> None:
    """Drive the streaming path to completion over existing files
    (Trigger.AvailableNow) into an in-memory sink — the test/dev harness;
    production would write an Iceberg sink with checkpointLocation.
    Waits with no timeout: availableNow ends on its own, and a timed
    wait would hand back a partial table."""
    stream = windowed_event_stats(read_stream(spark, src_dir, schema), with_watermark=True)
    # complete mode: emit every window at the availableNow barrier (append
    # would hold back windows the watermark has not passed yet)
    (
        stream.writeStream.format("memory")
        .queryName(out_table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
