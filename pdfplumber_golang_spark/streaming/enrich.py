"""Stream-static enrichment join: the stateless streaming idiom that
complements the stateful ones (windowed aggs, sessionize, watermark
dedup, stream-stream interval join) — each micro-batch of the event
stream joins a STATIC dimension table (user → market segment), which
Spark broadcasts per batch; no watermark or join state is needed because
the static side never changes within the query.

At crawl scale this is the enrichment every ingest pipeline runs (URL →
domain metadata, user → account tier): the dimension stays a broadcast
dim exactly as in the batch TPC-H joins, and the stream side remains
scan-aligned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import drain
from .join import EVENTS_SCHEMA


def user_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static user dimension derived from the customer table: user_id =
    c_custkey, segment = c_mktsegment (events carry small integer user
    ids that land inside the customer key range)."""
    import os

    return (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )

def stream_enrich(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    dim: DataFrame,
) -> DataFrame:
    """File-stream events, inner-join the broadcast static dimension on
    user_id, drain exactly-once to parquet."""
    ev = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(in_dir)
        .select("event_id", "user_id", "event_type")
    )
    enriched = ev.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "event_type", "segment"
    )
    return drain(enriched, out_dir, checkpoint_dir)
