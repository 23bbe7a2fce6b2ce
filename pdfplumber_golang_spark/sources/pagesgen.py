"""Pages-table source: synthesize the Common-Crawl-style input table.

Builds the BASELINE.json ``input_hint`` table
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``
deterministically from the driver's ``documents`` parquet — every payload is
a pure function of (doc_id, text), so goldens are independently computable
(spec.py). Runs distributed via mapInPandas (the payload build is the
expensive part: PDF assembly + zlib).

At real scale this table would be an Iceberg table of WARC captures; here
``spark.read.parquet`` on the synthesized output plays that role (same
columnar scan path, partition pruning and predicate pushdown apply
identically).
"""

from __future__ import annotations

import datetime
import functools
import os
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import spec
from ..kernel.pdfwrite import build_payload
from ..session import drop_zip_finders

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),     # golden extracted text
        T.StructField("lang", T.StringType()),
        T.StructField("doc_id", T.LongType()),     # kept for oracle joins
        T.StructField("variant", T.StringType()),
    ]
)

_EPOCH = datetime.datetime(2024, 1, 1)


def _gen_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    drop_zip_finders()
    for pdf in it:
        urls, tss, payloads, goldens, langs, ids, variants = [], [], [], [], [], [], []
        for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"], pdf["lang"]):
            doc_id = int(doc_id)
            payload, golden, variant = build_payload(doc_id, text)
            urls.append(spec.url_of(doc_id))
            tss.append(_EPOCH + datetime.timedelta(seconds=13 * doc_id))
            payloads.append(payload)
            goldens.append(golden)
            langs.append(lang)
            ids.append(doc_id)
            variants.append(variant)
        yield pd.DataFrame(
            {
                "url": urls, "warc_ts": tss, "html": payloads,
                "text": goldens, "lang": langs, "doc_id": ids,
                "variant": variants,
            }
        )


def build_pages(spark: SparkSession, sf_dir: str, parallelism: int = 32) -> DataFrame:
    """documents.parquet → pages DataFrame (deterministic, distributed)."""
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text", "lang")
        .repartition(parallelism, F.col("doc_id"))
    )
    return docs.mapInPandas(_gen_batches, schema=PAGES_SCHEMA)


def _variant_pages(spark: SparkSession, sf_dir: str, variant: str) -> DataFrame:
    """(url, html) pages for one deterministic fixture variant over the
    doc_id % 10 == 6 subset — shared builder for the table/curve corpora."""
    from ..kernel.pdfwrite import build_pdf

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in it:
            urls, payloads = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                data, _golden = build_pdf(doc_id, text, variant)
                urls.append(spec.url_of(doc_id))
                payloads.append(data)
            yield pd.DataFrame({"url": urls, "html": payloads})

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .where("doc_id % 10 = 6")
        .select("doc_id", "text")
        .repartition(8, F.col("doc_id"))
    )
    schema = T.StructType(
        [T.StructField("url", T.StringType()), T.StructField("html", T.BinaryType())]
    )
    return docs.mapInPandas(gen, schema=schema)


def build_graphics_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ruled-table PDFs (variant pdf_graphics) — the lattice-extraction
    corpus (mirrors the reference's table_example.pdf fixture role)."""
    return _variant_pages(spark, sf_dir, "pdf_graphics")


def build_texttable_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ruling-free aligned cell text (variant pdf_texttable) — the T12
    text-detection corpus."""
    return _variant_pages(spark, sf_dir, "pdf_texttable")


def build_rowrects_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stacked aligned filled rects + columned cell text (variant
    pdf_rowrects) — the T7/T9/T10/T11 corpus."""
    return _variant_pages(spark, sf_dir, "pdf_rowrects")


def build_curves_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stroked beziers + a filled triangle (variant pdf_curves), geometry
    closed-form in doc_id — the curves-relation corpus."""
    return _variant_pages(spark, sf_dir, "pdf_curves")


def _fixture_batches(
    it: Iterator[pd.DataFrame], build: Callable[[int], bytes], col: str
) -> Iterator[pd.DataFrame]:
    drop_zip_finders()
    for pdf in it:
        yield pd.DataFrame(
            {"url": pdf["url"], col: [build(int(d)) for d in pdf["doc_id"]]}
        )


def fixture_table(
    spark: SparkSession, sf_dir: str, build: Callable[[int], bytes], col: str
) -> DataFrame:
    """(url, ``col``: binary) with one closed-form payload ``build(doc_id)``
    per document: the media, video and fixture-PDF tables.

    Loud, unlike the per-document driver: a fixture is a pure function of
    ``doc_id``, so a ``build`` that raises is a bug and fails the job."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.select("doc_id", F.expr(spec.SQL_URL).alias("url")).mapInPandas(
        functools.partial(_fixture_batches, build=build, col=col),
        schema=f"url string, {col} binary",
    )


def pages_cache_path(sf_dir: str) -> str:
    """<checkout>/.pages_cache/<sf>, in the checkout that holds this
    package, so two checkouts never share (stale) payloads."""
    checkout = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)
    )))
    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(checkout, ".pages_cache", tag)


def load_or_build_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized pages table (parquet cache — stands in for the Iceberg
    source table; built once per scale factor)."""
    path = pages_cache_path(sf_dir)
    success = os.path.join(path, "_SUCCESS")
    if not os.path.exists(success):
        build_pages(spark, sf_dir).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)
