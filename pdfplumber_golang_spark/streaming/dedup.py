"""Streaming exact dedup: the ingestion-time twin of dedup_exact."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import drain

DOC_WATERMARK = "30 days"

DOC_REPLAY_SCHEMA = "doc_id long, ts timestamp, text string"


def stream_dedup_docs(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """File-stream a (doc_id, ts, text) replay of the documents table and
    keep one row per content hash, draining exactly-once to parquet.

    A rolling crawl can't re-scan the corpus per batch;
    ``dropDuplicatesWithinWatermark`` keys state by content hash and
    expires it with the event-time watermark — the standard bounded-state
    design: a duplicate arriving within the watermark horizon is dropped
    exactly; one arriving later than the horizon is the operator's
    documented miss window (state would otherwise grow with the corpus).

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
