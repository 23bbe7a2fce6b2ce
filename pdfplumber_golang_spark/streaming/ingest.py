"""Structured Streaming ingestion of the pages table.

The reference is a batch library (SURVEY §2.8: no streaming), and the
north_rule's resumability is batch-checkpoint based — but a Common-Crawl
ingestion pipeline naturally arrives as a stream of WARC drops, so this
module wires the SAME extraction kernel into readStream → mapInPandas →
writeStream with exactly-once file-sink semantics. ``Trigger.AvailableNow``
drains whatever is present and stops, which is also how the batch parity
test runs it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from .. import pipeline
from ..sources.pagesgen import PAGES_SCHEMA


def stream_extract(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Stream parquet page files from in_dir, extract, sink to parquet.

    File-source + file-sink gives exactly-once per input file via the
    streaming checkpoint (offsets + sink metadata log) — the streaming
    analogue of plans/checkpoint.py's bucket lineage."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )
    rows = pipeline.extract_pages(pages)
    return (
        rows.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
