"""The per-document driver of ``pipeline`` over plain pandas batches.

Each relation's emitter, and each media, page-render and WARC emitter,
runs through ``pipeline.per_doc`` exactly as ``mapInPandas`` would call
it, without a JVM, and the batches it yields are checked against the
stage's schema with the Arrow conversion Spark applies. The last tests
run ``doc_text``'s one-stage path in Spark against its groupBy path."""

import datetime
import functools
import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from pdfplumber_golang_spark import pipeline
from pdfplumber_golang_spark.functions import multimodal as mm
from pdfplumber_golang_spark.session import drop_zip_finders
from pdfplumber_golang_spark.sources import pagesgen, warc
from pdfplumber_golang_spark.kernel.pdfwrite import (
    build_annot_pdf,
    build_image_pdf,
    build_pdf,
)

TEXT = "Dummy PDF file"
HTML = b"<html><body><p>Some page text here</p></body></html>"
JUNK = b"%PDF-1.4\n\x00junk"  # PDF header, then nothing parseable


def _pdf(variant: str) -> bytes:
    return build_pdf(3, TEXT, variant)[0]


# relation -> (emitter, schema, a PDF fixture that yields rows)
RELATIONS = {
    "pages": (pipeline._page_rows, pipeline.PAGE_ROWS_SCHEMA, _pdf("pdf_plain")),
    "chars": (pipeline._char_rows, pipeline.CHAR_ROWS_SCHEMA, _pdf("pdf_plain")),
    "images": (pipeline._image_rows, pipeline.IMAGE_ROWS_SCHEMA, build_image_pdf(3)),
    "annots": (pipeline._annot_rows, pipeline.ANNOT_ROWS_SCHEMA, build_annot_pdf(3)),
    "tables": (pipeline._table_rows, pipeline.TABLE_ROWS_SCHEMA, _pdf("pdf_graphics")),
    "curves": (pipeline._curve_rows, pipeline.CURVE_ROWS_SCHEMA, _pdf("pdf_curves")),
    "edges": (pipeline._edge_rows, pipeline.EDGE_ROWS_SCHEMA, _pdf("pdf_graphics")),
    "metadata": (pipeline._metadata_rows, pipeline.METADATA_SCHEMA, _pdf("pdf_plain")),
}


def _drive(emit, schema, batch, cols=pipeline.PAGES_COLS) -> pd.DataFrame:
    out = list(pipeline.per_doc(emit, schema, cols)(iter([batch])))
    assert len(out) == 1
    frame = out[0]
    assert list(frame.columns) == schema.fieldNames()
    pa.Table.from_pandas(frame, schema=to_arrow_schema(schema), preserve_index=False)
    return frame


@pytest.mark.parametrize("relation", sorted(RELATIONS))
def test_relation_keeps_pdf_rows_and_routes_bad_docs(relation):
    emit, schema, pdf = RELATIONS[relation]
    batch = pd.DataFrame(
        {"url": ["good", "html", "junk"], "html": [pdf, HTML, JUNK]}
    )
    frame = _drive(emit, schema, batch)
    assert (frame["url"] == "good").sum() > 0
    if relation == "pages":
        junk = frame[frame["url"] == "junk"]
        assert list(junk["kind"]) == ["error"] and junk["error"].iloc[0]
        assert list(frame.loc[frame["url"] == "html", "kind"]) == ["html"]
    else:
        assert set(frame["url"]) == {"good"}


def test_doc_that_raises_midway_leaves_no_rows():
    schema = T.StructType([T.StructField("url", T.StringType())])

    def emit(url, raw):
        yield (url,)
        if url == "bad":
            raise ValueError("page 2 is malformed")

    batch = pd.DataFrame({"url": ["a", "bad", "b"], "html": [b"%PDF-"] * 3})
    assert list(_drive(emit, schema, batch)["url"]) == ["a", "b"]


@pytest.mark.parametrize("relation", sorted(RELATIONS))
def test_all_junk_batch(relation):
    emit, schema, _pdf_bytes = RELATIONS[relation]
    batch = pd.DataFrame({"url": ["j1", "j2"], "html": [JUNK, JUNK[:7]]})
    frame = _drive(emit, schema, batch)
    if relation == "pages":
        assert list(frame["kind"]) == ["error", "error"]
    else:
        assert frame.empty


PNG, JPEG, GIF = mm.png_bytes(9, 7), mm.jpeg_bytes(17, 23), mm.gif_bytes(9, 7)
BAD_IMAGES = {
    "png_10": PNG[:10],
    "png_half": PNG[: len(PNG) // 2],
    "jpeg_half": JPEG[: len(JPEG) // 2],
    "gif_half": GIF[: len(GIF) // 2],
}
_TS = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
WARC = warc.build_warc([("http://a.example/", _TS, HTML), ("http://b.example/", _TS, HTML)])

# payload stage -> (emitter, schema, driver columns, a valid payload,
# truncated or malformed payloads)
CONSUMERS = {
    "media_features": (mm._media_rows, mm.MEDIA_SCHEMA, mm.MEDIA_COLS, PNG, BAD_IMAGES),
    "media_pixel_stats": (mm._pixel_rows, mm.PIXEL_SCHEMA, mm.MEDIA_COLS, JPEG, BAD_IMAGES),
    "media_resize": (mm._resize_rows, mm.RESIZE_SCHEMA, mm.MEDIA_COLS, GIF, BAD_IMAGES),
    "media_frame_sample": (
        functools.partial(mm._frame_rows, k=mm.FRAME_SAMPLE_K),
        mm.FRAME_SCHEMA, mm.MEDIA_COLS, mm.video_bytes(9),
        {"fvid_6": b"FVID\x00\x00", "fvid_7": b"FVID\x00\x00\x01"},
    ),
    "page_render": (
        mm._render_rows, mm.PAGE_RENDER_SCHEMA, pipeline.PAGES_COLS,
        _pdf("pdf_plain"), {"junk": JUNK, "pdf_cut": _pdf("pdf_plain")[:400]},
    ),
    "warc": (
        warc._warc_rows, warc.WARC_PAGES_SCHEMA, ("path", "content"), WARC,
        {
            "bad_length": WARC.replace(b"Content-Length: ", b"Content-Length: x", 1),
            "bad_date": WARC.replace(b"WARC-Date: ", b"WARC-Date: x", 1),
            "neg_length": WARC.replace(b"Content-Length: ", b"Content-Length: -", 1),
            "bad_gzip": b"\x1f\x8b" + JUNK,
        },
    ),
}


@pytest.mark.parametrize("stage", sorted(CONSUMERS))
def test_payload_stage_drops_bad_docs(stage):
    emit, schema, cols, good, bad = CONSUMERS[stage]
    batch = pd.DataFrame({cols[0]: ["good", *bad], cols[1]: [good, *bad.values()]})
    frame = _drive(emit, schema, batch, cols)
    if stage == "warc":  # the key is the file; rows carry the records' urls
        # a malformed first record is skipped and the second kept; the corrupt
        # gzip file gives no rows
        assert list(frame["url"]) == ["http://a.example/"] + ["http://b.example/"] * 4
        return
    assert (frame["url"] == "good").sum() > 0
    if stage == "media_features":
        # a header parse degrades instead of raising: one row per doc
        assert sorted(frame["url"]) == sorted(batch["url"])
        assert frame.loc[frame["url"] == "png_10", "width"].isna().all()
    else:
        assert set(frame["url"]) == {"good"}


def test_fixture_generator_is_loud():
    def build(doc_id):
        if doc_id == 2:
            raise ValueError("fixture bug")
        return bytes([doc_id])

    batch = pd.DataFrame({"doc_id": [1, 2], "url": ["a", "b"]})
    with pytest.raises(ValueError, match="fixture bug"):
        list(pagesgen._fixture_batches(iter([batch]), build, "data"))


@pytest.mark.parametrize("relation", sorted(RELATIONS) + sorted(CONSUMERS))
def test_empty_frame_matches_schema(relation):
    schema = (RELATIONS.get(relation) or CONSUMERS[relation])[1]

    def emit(url, raw):
        raise ValueError(url)
        yield

    batch = pd.DataFrame({"url": ["j1", "j2"], "html": [JUNK, HTML]})
    assert _drive(emit, schema, batch).empty


def _zip_finders() -> list:
    return [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


@pytest.fixture
def zip_package(tmp_path):
    """A two-module package imported from a zip on ``sys.path``, the way a
    Python worker imports pyspark from ``pyspark.zip``."""
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/one.py", "X = 1\n")
        z.writestr("zpkg/two.py", "X = 2\n")
    saved_path, saved_cache = list(sys.path), dict(sys.path_importer_cache)
    sys.path.insert(0, str(archive))
    importlib.import_module("zpkg.one")
    assert _zip_finders()
    yield
    sys.path[:] = saved_path
    for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
        del sys.modules[name]
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(saved_cache)


def test_drop_zip_finders_keeps_zip_importable(zip_package):
    drop_zip_finders()
    assert _zip_finders() == []
    assert importlib.import_module("zpkg.two").X == 2


def test_driver_drops_zip_finders_each_task(zip_package):
    emit, schema, pdf = RELATIONS["pages"]
    _drive(emit, schema, pd.DataFrame({"url": ["good"], "html": [pdf]}))
    assert _zip_finders() == []


def _pages_table(spark, rows):
    return spark.createDataFrame(rows, "url string, html binary")


def test_one_stage_doc_text_matches_groupby(spark):
    """``doc_text(extract_pages(t))`` runs as one stage; ``select("*")``
    makes a new frame, which takes the groupBy over page rows."""
    multi, _golden = build_pdf(5, " ".join(["alpha beta gamma delta"] * 200), "pdf_plain")
    t = _pages_table(spark, [
        ("multi", multi), ("one", _pdf("pdf_plain")), ("html", HTML),
        ("empty", b"<html><body></body></html>"), ("junk", JUNK),
    ])
    one = pipeline.doc_text(pipeline.extract_pages(t))
    grouped = pipeline.doc_text(pipeline.extract_pages(t).select("*"))
    assert one.schema == grouped.schema == pipeline.DOC_TEXT_SCHEMA
    got, want = sorted(one.collect()), sorted(grouped.collect())
    assert got == want
    assert [r["url"] for r in got] == ["empty", "html", "multi", "one"]
    assert got[2]["n_pages"] == 2 and got[0]["text"] == ""


def test_one_stage_doc_text_keeps_duplicate_urls_apart(spark):
    """The documented edge case: a url twice in the pages table gives one
    doc row per pages row, where the groupBy would merge them."""
    a = b"<html><body><p>first body</p></body></html>"
    b = b"<html><body><p>second body text</p></body></html>"
    t = _pages_table(spark, [("dup", a), ("dup", b)])
    rows = pipeline.doc_text(pipeline.extract_pages(t)).collect()
    assert sorted((r["text"], r["n_pages"]) for r in rows) == [
        ("first body", 1), ("second body text", 1)
    ]
