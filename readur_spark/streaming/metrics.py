"""Ingestion metrics: event-time tumbling-window aggregation per key.

readur tracks per-source sync/ingest counters and exposes them over its
metrics endpoints (/root/reference/src/monitoring/ and
src/scheduling/source_scheduler.rs progress accounting); at pipeline scale
the equivalent is a windowed aggregation: events carry their own event
time and tumbling windows aggregate per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_metrics(
    events: DataFrame,
    window: str = "1 hour",
) -> DataFrame:
    """Tumbling-window per-key event counts and value totals."""
    return (
        events.groupBy(F.window(F.col("ts"), window).alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )

