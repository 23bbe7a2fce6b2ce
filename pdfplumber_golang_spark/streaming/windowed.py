"""Time-windowed aggregation over the events table.

The reference has no streaming (SURVEY §2.8); this is the event-time
tumbling-window count a rolling ingestion monitor reads, oracle-checkable
against DuckDB time_bucket.  It has no streaming twin: a file stream must
drain in append mode, and under Trigger.AvailableNow the watermark never
passes the last window, so that window would never be emitted.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WINDOW = "5 minutes"


def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per (5-minute tumbling window, event_type)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (
        ev.groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def windowed_event_counts_oracle() -> str:
    return """
SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 3) AS sum_value
FROM events GROUP BY window_start, event_type
"""
