"""Streaming exact dedup: the ingestion-time twin of dedup_exact.

A rolling crawl can't re-scan the corpus per batch; Structured Streaming's
``dropDuplicatesWithinWatermark`` keys state by content hash and expires it
with the event-time watermark — the standard bounded-state design: a
duplicate arriving within the watermark horizon is dropped exactly; one
arriving later than the horizon is the operator's documented miss window
(state would otherwise grow with the corpus).  At 10^12 docs the horizon is
a retention policy knob, and the md5 key keeps state rows at 16 bytes + url.

The parity test drains the pages table with Trigger.AvailableNow and checks
the emitted content-hash set equals the batch first-occurrence dedup's (the
fixture's duplicates all arrive inside the horizon, so the sets coincide
exactly; which member of a duplicate group is kept is not checked).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pagesgen import PAGES_SCHEMA
from . import drain

WATERMARK = "10 minutes"


def stream_dedup(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Stream page files, keep the first occurrence per content hash."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(in_dir)
    )
    deduped = (
        pages.select(
            "url", "warc_ts", F.md5(F.col("html").cast("binary")).alias("h")
        )
        .withWatermark("warc_ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["h"])
    )
    return drain(deduped, out_dir, checkpoint_dir)


def batch_dedup_first(spark: SparkSession, in_dir: str) -> DataFrame:
    """Batch twin: first occurrence (min warc_ts, then min url) per hash."""
    from pyspark.sql import Window

    pages = spark.read.schema(PAGES_SCHEMA).parquet(in_dir)
    w = Window.partitionBy("h").orderBy("warc_ts", "url")
    return (
        pages.select(
            "url", "warc_ts", F.md5(F.col("html").cast("binary")).alias("h")
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )


DOC_WATERMARK = "30 days"

DOC_REPLAY_SCHEMA = "doc_id long, ts timestamp, text string"


def stream_dedup_docs(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """File-stream a (doc_id, ts, text) replay of the documents table and
    keep one row per content hash via ``dropDuplicatesWithinWatermark``,
    draining exactly-once to parquet.

    The DOC_WATERMARK horizon covers the whole fixture replay span so the
    emitted hash set equals the batch distinct set EXACTLY (the oracle
    gate's check); in production the horizon is the dedup retention
    policy — state is one 16-byte digest per distinct doc within it."""
    docs = (
        spark.readStream.schema(DOC_REPLAY_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(in_dir)
    )
    deduped = (
        docs.select("doc_id", "ts", F.md5("text").alias("h"))
        .withWatermark("ts", DOC_WATERMARK)
        .dropDuplicatesWithinWatermark(["h"])
    )
    return drain(deduped, out_dir, checkpoint_dir)
