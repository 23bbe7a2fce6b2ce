"""The extraction pipeline: pages table → per-doc relations → per-doc text.

Spark-first design (SURVEY §3.2 "Spark shape"):
  * one ``mapInPandas`` stage runs the whole per-document kernel
    (bytes → chars → layout → text) — no cross-node boundary inside a doc;
  * every Python stage that reads payloads runs through one per-document
    driver, ``per_doc``/``relation``: the eight relations here (pages,
    chars, images, annotations, table cells, curves, edges, metadata), the
    media, frame-sample and page-render stages of ``functions.multimodal``
    and the WARC record parser of ``sources.warc``. A stage is an emitter
    generator ``(key, raw) → row tuples`` plus its schema and its two input
    columns, and the driver builds each batch with one ``pd.DataFrame``
    call. Only the input generators in ``sources.pagesgen`` run
    their own ``mapInPandas``, because a generator bug must fail the job;
  * the driver drops the Python worker's cached ``zipimporter`` finders
    once per task, so the next task's ``importlib.invalidate_caches()``
    does not re-read all of ``pyspark.zip`` (``session.drop_zip_finders``);
  * one failure policy, in the driver: a doc whose emitter raises
    contributes no rows, so one truncated image or WARC file cannot fail
    the job. The pages relation still reports failures as an ``error``
    row, because ``extract_document`` returns the error as a value that
    the pages emitter yields as data. The seven other relations are
    PDF-only: HTML and other non-PDF payloads give them no rows;
  * explicit column pruning before the UDF (a pandas UDF is opaque to
    Catalyst, so the driver selects only its two input columns);
  * skew (``extract_pages``): optionally repartition by ``xxhash64(url)``
    with an extra salt bucket for mega-payloads (``length(html) >
    threshold``) so one hot partition can't stall the stage (north_rule
    skew requirement) — docs are atomic units so salting spreads
    *documents*, pages explode afterwards;
  * per-doc text: ``doc_text`` of the unpersisted frame ``extract_pages``
    returned is that same one stage, emitting doc rows (one per pages row,
    so a duplicated url gives two); other page rows, which no longer carry
    their payloads, are reassembled by a groupBy over url.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .kernel.extract import extract_document, load_annotations, parse_pdf_objects
from .kernel.pdfparse import PDFDocument
from .kernel.tables import extract_tables as kernel_tables
from .kernel.tables import rects_to_edges
from .session import drop_zip_finders

PAGE_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("n_words", T.IntegerType()),
        T.StructField("n_edges", T.IntegerType()),
        T.StructField("n_rects", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ]
)

CHAR_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("char_idx", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("font", T.StringType()),
        T.StructField("font_size", T.DoubleType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
        T.StructField("width", T.DoubleType()),
        T.StructField("height", T.DoubleType()),
    ]
)

IMAGE_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("img_idx", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("colorspace", T.StringType()),
        T.StructField("bpc", T.LongType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
    ]
)

ANNOT_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("annot_idx", T.IntegerType()),
        T.StructField("subtype", T.StringType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
        T.StructField("contents", T.StringType()),
        T.StructField("link_url", T.StringType()),
    ]
)

TABLE_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("table_no", T.IntegerType()),
        T.StructField("row_no", T.IntegerType()),
        T.StructField("col_no", T.IntegerType()),
        T.StructField("cell_text", T.StringType()),
    ]
)

CURVE_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("curve_no", T.IntegerType()),
        T.StructField("n_points", T.IntegerType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
    ]
)

EDGE_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
        T.StructField("width", T.DoubleType()),
        T.StructField("src", T.StringType()),
    ]
)

#: doc_text's columns, nullable as its groupBy builds them
DOC_TEXT_SCHEMA = (
    T.StructType().add("url", "string").add("text", "string", False)
    .add("n_chars", "long").add("n_words", "long").add("n_pages", "long", False)
)

METADATA_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("author", T.StringType()),
        T.StructField("producer", T.StringType()),
    ]
)

#: payloads above this byte size get their own salt buckets (mega-docs)
MEGA_BYTES = 64 * 1024
N_SALT = 8

#: a stage's per-document kernel: (key, raw payload) → row tuples in
#: schema order
Emitter = Callable[[str, bytes], Iterable[tuple]]

#: the driver's input columns for a pages table: (key, payload)
PAGES_COLS = ("url", "html")


def per_doc(
    emit: Emitter, schema: T.StructType, cols: tuple[str, str] = PAGES_COLS
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The ``mapInPandas`` function that runs ``emit`` once per doc, over
    the (key, payload) columns ``cols``.

    A doc whose emitter raises contributes no rows: its rows are collected
    in full before any is kept, so a failure on page 3 cannot leave pages 1
    and 2 behind. A non-PDF payload fails the PDF-only emitters at
    ``PDFDocument``'s header check, so it gives them no rows."""
    key_col, raw_col = cols
    names = schema.fieldNames()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in it:
            rows: list[tuple] = []
            for key, raw in zip(pdf[key_col], pdf[raw_col]):
                try:
                    doc_rows = list(emit(key, bytes(raw)))
                except Exception:  # malformed inputs must never kill the executor
                    continue
                rows.extend(doc_rows)
            yield pd.DataFrame(rows, columns=names)

    return batches


def relation(
    df: DataFrame,
    emit: Emitter,
    schema: T.StructType,
    cols: tuple[str, str] = PAGES_COLS,
) -> DataFrame:
    """table → one relation: the (key, payload) columns ``cols`` pruned,
    then the driver."""
    return df.select(*cols).mapInPandas(per_doc(emit, schema, cols), schema=schema)


def _page_rows(url: str, raw: bytes) -> Iterator[tuple]:
    pages, err = extract_document(url, raw)
    if err is not None:
        yield (url, 0, "error", None, 0, 0, 0, 0, err)
    for p in pages:
        yield (
            url, p.page_no, p.kind, p.text,
            p.n_chars, p.n_words, p.n_edges, p.n_rects, None,
        )


def extract_pages(
    pages: DataFrame,
    parallelism: int = 32,
    salt: bool = False,
    mega_bytes: int = MEGA_BYTES,
) -> DataFrame:
    """pages table → per-page extraction rows (the core stage); a doc that
    fails to extract gives one ``kind="error"`` row carrying the error.

    Shuffling raw payload bytes is expensive (measured: the repartition of
    a ~6GB payload column made the extract stage I/O-bound and killed
    scaling, 0.32 efficiency at 8→32 cores). Default is scan-aligned
    extraction — the parquet/Iceberg reader already splits input by
    ``spark.sql.files.maxPartitionBytes``, so partitions are balanced
    without moving bytes. Use salt=True only when the SOURCE layout is
    skewed (few giant files / hot key ranges); then the explicit url-hash +
    mega-doc salt repartition over ``parallelism`` partitions is the remedy
    the north_rule names."""
    if salt:
        salt_col = F.when(
            F.length("html") > mega_bytes,
            F.pmod(F.xxhash64("url", F.lit(1)), F.lit(N_SALT)),
        ).otherwise(F.lit(0))
        pages = pages.select("url", "html").repartition(
            parallelism, F.xxhash64("url"), salt_col
        )
    rows = relation(pages, _page_rows, PAGE_ROWS_SCHEMA)
    rows._extracted_from = pages  # doc_text's one-stage path
    return rows


def _char_rows(url: str, raw: bytes) -> Iterator[tuple]:
    for page_no, _mb, interp in parse_pdf_objects(raw):
        for i, ch in enumerate(interp.chars):
            yield (url, page_no, i, *ch)


def extract_chars(pages: DataFrame) -> DataFrame:
    """pages table → flat chars relation (SURVEY §1.1: the central relation)."""
    return relation(pages, _char_rows, CHAR_ROWS_SCHEMA)


def _image_rows(url: str, raw: bytes) -> Iterator[tuple]:
    for page_no, _mb, interp in parse_pdf_objects(raw):
        for i, im in enumerate(interp.images):
            yield (url, page_no, i, *im)


def extract_images(pages: DataFrame) -> DataFrame:
    """pages table → images relation (image-XObject metadata + placed
    bbox per Do; the reference's ImageObject schema slot made real)."""
    return relation(pages, _image_rows, IMAGE_ROWS_SCHEMA)


def _annot_rows(url: str, raw: bytes) -> Iterator[tuple]:
    doc = PDFDocument(raw)
    for page in doc.pages:
        for i, annot in enumerate(load_annotations(doc, page)):
            yield (url, page.number, i, *annot)


def extract_annotations(pages: DataFrame) -> DataFrame:
    """pages table → annotations relation (/Annots subtype, rect,
    contents, link URI — the reference's AnnotationObject slot made real)."""
    return relation(pages, _annot_rows, ANNOT_ROWS_SCHEMA)


def _table_rows(url: str, raw: bytes, **table_opts) -> Iterator[tuple]:
    for page_no, _mb, interp in parse_pdf_objects(raw):
        tabs = kernel_tables(
            interp.chars, interp.edges, interp.rects, **table_opts
        )
        for tno, tab in enumerate(tabs):
            for rno, row in enumerate(tab["rows"]):
                for cno, cell in enumerate(row):
                    yield (url, page_no, tno, rno, cno, cell)


def extract_tables_df(pages: DataFrame, **table_opts) -> DataFrame:
    """pages table → flattened table cells (SURVEY §2.7). ``table_opts``
    are the kernel extract_tables options (vertical_strategy=,
    horizontal_strategy=, min_table_size=, text_tolerance=,
    snap_tolerance=, join_tolerance=) — plan-build-time constants closed
    over by the Arrow stage, exactly like the reference's functional
    options (types.go:366-393)."""
    emit = functools.partial(_table_rows, **table_opts)
    return relation(pages, emit, TABLE_ROWS_SCHEMA)


def _curve_rows(url: str, raw: bytes) -> Iterator[tuple]:
    for page_no, _mb, interp in parse_pdf_objects(raw):
        for cno, (pts,) in enumerate(interp.curves):
            xs = [p[0] for p in pts]
            ys = [p[1] for p in pts]
            yield (url, page_no, cno, len(pts), min(xs), min(ys), max(xs), max(ys))


def extract_curves(pages: DataFrame) -> DataFrame:
    """pages table → curves relation (url, page_no, curve_no, n_points,
    bbox). CurveObjects are non-axis stroked point chains and non-rect
    fills (kernel/content.py _emit_stroke/_emit_fill; reference populates
    them at content_stream_parser.go:1259-1357)."""
    return relation(pages, _curve_rows, CURVE_ROWS_SCHEMA)


def _edge_rows(url: str, raw: bytes) -> Iterator[tuple]:
    for page_no, _mb, interp in parse_pdf_objects(raw):
        rh, rv = rects_to_edges(interp.rects)
        for src, edges in (("line", interp.edges), ("rect_edge", rh + rv)):
            for e in edges:
                width = e[4] if len(e) > 4 else 1.0
                yield (url, page_no, e[0], e[1], e[2], e[3], width, src)


def extract_edges(pages: DataFrame) -> DataFrame:
    """pages table → flat edges relation (lines + rect-expanded edges, T3)."""
    return relation(pages, _edge_rows, EDGE_ROWS_SCHEMA)


def _metadata_rows(url: str, raw: bytes) -> Iterator[tuple]:
    meta = PDFDocument(raw).metadata()
    yield (url, meta.get("Title"), meta.get("Author"), meta.get("Producer"))


def extract_metadata_df(pages: DataFrame) -> DataFrame:
    """pages table → PDF /Info metadata rows (Title/Author/Producer)."""
    return relation(pages, _metadata_rows, METADATA_SCHEMA)


def _doc_rows(url: str, raw: bytes) -> Iterator[tuple]:
    """The row ``doc_text``'s groupBy builds from this doc's page rows."""
    pages, _err = extract_document(url, raw)
    if pages:
        pages.sort(key=lambda p: (p.page_no, p.text))
        yield (url, "\n".join(p.text for p in pages), sum(p.n_chars for p in pages),
               sum(p.n_words for p in pages), len(pages))


def doc_text(page_rows: DataFrame) -> DataFrame:
    """Per-doc extracted text: pages '\n'-joined in page order.

    The unpersisted frame ``extract_pages`` returned takes one stage, with
    no aggregate and no exchange: its payloads run through ``_doc_rows``,
    one doc row per pages row, so a url twice in the pages table gives two
    rows where the groupBy would merge them. Any other page rows (read
    back, filtered, projected or persisted) are grouped by url; sort_array
    over (page_no, text) structs keeps the agg free of window functions.
    """
    pages = vars(page_rows).get("_extracted_from")
    if pages is not None and not page_rows.is_cached:
        return relation(pages, _doc_rows, DOC_TEXT_SCHEMA)
    return (
        page_rows.where(F.col("error").isNull())
        .groupBy("url")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("page_no", "text"))),
                    lambda s: s["text"],
                ),
            ).alias("text"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.count("*").cast("long").alias("n_pages"),
        )
    )
