"""Watermarked event-stream aggregation (Structured Streaming surface).

The reference has no streaming (SURVEY.md §2.7); this is part of the
training-data-pipeline surface: tumbling-window counts/sums over an event
stream with late-data handling, usable both as a real stream and in batch
(the batch path is what the DuckDB oracle checks via events_hourly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windows per event_type; watermark bounds state.

    Works on both static and streaming DataFrames (same plan; streaming adds
    the watermark-driven state eviction).
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
            "n",
            "sum_value",
        )
    )
