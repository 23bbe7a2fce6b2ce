"""Streaming-ingestion parity: streamed extraction == batch extraction."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pdfplumber_golang_spark import pipeline
from pdfplumber_golang_spark.sources.pagesgen import load_or_build_pages
from pdfplumber_golang_spark.streaming.ingest import stream_extract

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def dirs():
    root = tempfile.mkdtemp(prefix="stream_")
    paths = {k: os.path.join(root, k) for k in ("in", "out", "ckpt")}
    yield paths
    shutil.rmtree(root, ignore_errors=True)


def test_stream_matches_batch(spark, dirs):
    pages = load_or_build_pages(spark, SF_DIR).limit(120).cache()
    pages.write.mode("overwrite").parquet(dirs["in"])

    streamed = stream_extract(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    batch = pipeline.extract_pages(pages, parallelism=8)
    s = {(r.url, r.page_no): r.text for r in streamed.collect()}
    b = {(r.url, r.page_no): r.text for r in batch.collect()}
    assert s == b

    # restart with no new files: exactly-once, no duplicate outputs
    stream_extract(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    assert spark.read.parquet(dirs["out"]).count() == len(s)


def test_stateful_sessionize_stream_matches_batch(spark, dirs):
    """applyInPandasWithState session-gap sessionize == the batch
    sessionize for every session the watermark closed (sessions still
    open at drain stay in state — streaming semantics)."""
    import pandas as pd

    from pdfplumber_golang_spark.streaming.sessionize import (
        GAP_SECONDS,
        stream_sessionize,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    # time-ordered files: the operator's in-order-arrival contract
    # (watermark bounds disorder; a real feed is roughly time-ordered)
    os.makedirs(dirs["in"], exist_ok=True)
    epdf = ev.toPandas().sort_values("ts").reset_index(drop=True)
    k = 8
    step = (len(epdf) + k - 1) // k
    for i in range(k):
        chunk = epdf.iloc[i * step : (i + 1) * step]
        chunk.to_parquet(
            os.path.join(dirs["in"], f"part-{i:04d}.parquet"),
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )

    streamed = stream_sessionize(
        spark, dirs["in"], dirs["out"], dirs["ckpt"]
    ).toPandas()

    # batch truth: same fold in pandas
    sessions = []
    for uid, g in epdf.groupby("user_id"):
        start = end = None
        n, sv = 0, 0.0
        for ts, v in zip(g["ts"].astype("int64") // 10**9, g["value"]):
            if start is None:
                start = end = ts; n, sv = 1, float(v)
            elif ts - end > GAP_SECONDS:
                sessions.append((uid, start, end, n, round(sv, 6)))
                start = end = ts; n, sv = 1, float(v)
            else:
                end = ts; n += 1; sv += float(v)
        if start is not None:
            sessions.append((uid, start, end, n, round(sv, 6)))
    # the stream emits exactly the sessions closed before the final
    # watermark = max(ts) - 30min; later ones remain open in state
    final_wm = int(epdf["ts"].astype("int64").max() // 10**9) - 1800
    closed = {s for s in sessions if s[2] + GAP_SECONDS < final_wm}

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events,
         round(r.sum_value, 6))
        for r in streamed.itertuples(index=False)
    }
    # every emitted session is a true batch session (never a corrupted one)
    assert got <= {tuple(s) for s in sessions}
    # and everything the watermark closed was emitted
    assert closed <= got, (len(closed), len(got))
    assert len(got) > 10  # sanity: the stream actually emitted sessions


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream click→view interval join (streaming/join.py): with
    the watermark horizon covering the replay span, the drained result
    must equal the batch inner join row-for-row."""
    from pdfplumber_golang_spark.streaming.join import (
        JOIN_INTERVAL, stream_interval_join,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "in")
    ev.repartition(8).write.parquet(in_dir)
    got = stream_interval_join(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    c = ev.where("event_type = 'click'").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    v = ev.where("event_type = 'view'").select(
        F.col("event_id").alias("view_id"), F.col("user_id").alias("vu"),
        F.col("ts").alias("vts"),
    )
    want = c.join(
        v,
        (F.col("cu") == F.col("vu"))
        & (F.col("vts") >= F.expr(f"cts - interval {JOIN_INTERVAL}"))
        & (F.col("vts") <= F.col("cts")),
    ).select("click_id", "view_id", F.col("cu").alias("user_id"))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_enrich_matches_batch(spark, tmp_path):
    """Stream-static enrichment (streaming/enrich.py): every drained row
    equals the batch broadcast join of events x user dimension."""
    from pdfplumber_golang_spark.streaming.enrich import stream_enrich, user_dim

    SF = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{SF}/events.parquet")
    in_dir = str(tmp_path / "in")
    ev.repartition(8).write.parquet(in_dir)
    dim = user_dim(spark, SF)
    got = stream_enrich(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"), dim
    )
    want = ev.select("event_id", "user_id", "event_type").join(
        dim, "user_id"
    ).select("event_id", "user_id", "event_type", "segment")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_stream_left_interval_join_emits_unmatched(spark, tmp_path):
    """VERDICT r4 #7: the LEFT-outer interval join must emit every
    unmatched click with a NULL view once the watermark passes its
    horizon — and the punctuation (barrier) rows that make an
    AvailableNow drain act on its final watermark must never leak into
    the output.  The drained result equals the batch LEFT JOIN exactly."""
    from pyspark.sql import functions as F

    from pdfplumber_golang_spark.streaming.join import (
        stream_interval_join,
        write_join_barriers,
    )

    SF = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{SF}/events.parquet")
    in_dir = str(tmp_path / "in")
    ev.repartition(8).write.parquet(in_dir)
    maxts = ev.agg(F.max("ts")).collect()[0][0]
    write_join_barriers(spark, in_dir, maxts)
    got = stream_interval_join(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        how="left",
    )
    c = ev.where("event_type = 'click'").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    v = ev.where("event_type = 'view'").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("vu"),
        F.col("ts").alias("vts"),
    )
    want = c.join(
        v,
        (F.col("cu") == F.col("vu"))
        & (F.col("vts") >= F.expr("cts - interval 6 hours"))
        & (F.col("vts") <= F.col("cts")),
        "left",
    ).select("click_id", "view_id", F.col("cu").alias("user_id"))
    assert got.where("user_id < 0").count() == 0     # no barrier leakage
    assert got.where("view_id IS NULL").count() > 0  # outer rows really emit
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_drain_timeout_stops_query(spark, tmp_path, monkeypatch):
    """A drain that outlasts its bound raises TimeoutError and leaves no
    query running (so no caller reads a half-drained sink)."""
    from pdfplumber_golang_spark import streaming
    from pdfplumber_golang_spark.streaming.join import EVENTS_SCHEMA

    in_dir = str(tmp_path / "in")
    spark.read.parquet(f"{SF_DIR}/events.parquet").write.parquet(in_dir)
    monkeypatch.setattr(streaming, "DRAIN_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError):
        streaming.drain(
            spark.readStream.schema(EVENTS_SCHEMA).parquet(in_dir),
            str(tmp_path / "out"), str(tmp_path / "ckpt"),
        )
    assert spark.streams.active == []


def test_materialized_failed_build_leaves_no_dir():
    """A build that raises inside __spark_entry__._materialized propagates
    its error and its scratch dir is removed (no Spark needed)."""
    import __spark_entry__ as E

    seen = []

    def build(root):
        seen.append(root)
        open(os.path.join(root, "partial"), "w").close()
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        E._materialized(None, "mat_test_", build)
    assert len(seen) == 1 and not os.path.exists(seen[0])
