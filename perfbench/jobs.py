"""The Spark jobs the text workloads time, built from the program's public API.

They return ``(url, md5(text))`` rows: Spark's built-in ``md5`` hashes the
text inside the plan, so only 32-char digests reach the driver and the
checker's memory stays out of the process-tree RSS.

Two extraction paths: "pages" is ``pipeline.extract_pages`` ->
``pipeline.doc_text``, the workloads' own job; "chars" is
``pipeline.extract_chars`` -> ``layout_ops.doc_text_from_chars``, which
pdf_text's traced run times as well.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdfplumber_golang_spark import pipeline
from pdfplumber_golang_spark.operators import layout_ops


def extract(path: str, pages: DataFrame) -> DataFrame:
    """The extraction stage alone (the per-row kernel inside mapInPandas)."""
    if path == "chars":
        return pipeline.extract_chars(pages)
    return pipeline.extract_pages(pages)


def doc_md5(spark: SparkSession, path: str, in_dir: str) -> DataFrame:
    """Per-url ``md5(text)`` of the documents' extracted text."""
    rows = extract(path, spark.read.parquet(in_dir))
    if path == "chars":
        text = layout_ops.doc_text_from_chars(rows)
    else:
        text = pipeline.doc_text(rows)
    return text.select("url", F.md5(F.col("text")).alias("md5"))
