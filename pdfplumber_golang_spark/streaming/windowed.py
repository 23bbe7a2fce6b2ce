"""Time-windowed aggregation over the events table — batch + streaming.

The reference has no streaming (SURVEY §2.8); this demonstrates the
Structured Streaming idiom the target pipeline would use for rolling
ingestion stats: event-time tumbling windows with a watermark for late
data. The batch twin is oracle-checkable (DuckDB time_bucket); the
streaming twin must produce identical results under Trigger.AvailableNow.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import drain

WINDOW = "5 minutes"
WATERMARK = "1 minute"


def _counts(ev: DataFrame) -> DataFrame:
    """Events per (5-minute tumbling window, event_type): the one
    aggregation both twins run."""
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


def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin, read from the events table."""
    return _counts(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))


def windowed_event_counts_oracle() -> str:
    return """
SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 3) AS sum_value
FROM events GROUP BY window_start, event_type
"""


def stream_windowed_event_counts(
    spark: SparkSession, in_dir: str, out_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming twin: file-source → watermark → windowed agg, drained in
    complete mode (to a memory table; ``out_dir`` is unused)."""
    ev_schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(in_dir)
        # parquet stores TIMESTAMP_NTZ; watermarks require TIMESTAMP
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", WATERMARK)
    )
    return drain(_counts(stream), out_dir, checkpoint_dir, "complete")
