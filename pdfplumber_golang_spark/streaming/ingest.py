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

from pyspark.sql import DataFrame, SparkSession

from .. import pipeline
from ..sources.pagesgen import PAGES_SCHEMA
from . import drain


def stream_extract(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Stream parquet page files from in_dir, extract, drain to parquet.

    File-source + file-sink gives exactly-once per input file via the
    streaming checkpoint (offsets + sink metadata log) — the streaming
    analogue of plans/checkpoint.py's bucket lineage."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )
    return drain(pipeline.extract_pages(pages), out_dir, checkpoint_dir)
