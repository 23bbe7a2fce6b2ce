"""Custom stateful streaming operator: session-gap sessionization via
``applyInPandasWithState`` (the Structured Streaming idiom for operators
the built-in windowed aggs can't express — SURVEY §2.8 / BASELINE
"applyInPandasWithState for custom stateful operators").

Semantics match the batch ``event_sessionize`` oracle query: per user, a
new session starts after a > GAP_SECONDS gap; a session emits once the
event-time watermark passes session_end + GAP (EventTimeTimeout), i.e.
once no in-order event can extend it.  Sessions still open when the
stream drains stay in the state store — that is the honest streaming
semantics; the parity test compares emitted sessions against exactly the
batch sessions that closed before the final watermark.

State per user: (session_start_epoch, session_end_epoch, n_events,
sum_value).  In-order arrival per user is the operator's contract (the
watermark bounds disorder; the test feeds time-ordered files).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import drain

GAP_SECONDS = 1800
WATERMARK = "30 minutes"

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.LongType()),  # epoch seconds
        T.StructField("session_end", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start", T.LongType()),
        T.StructField("end", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sv", T.DoubleType()),
    ]
)


def _sessionize_group(key, pdfs, state):
    """One user's micro-batch: fold events into the open session, emit every
    session closed by a > GAP gap; on event-time timeout emit the open one."""
    (user_id,) = key
    if state.hasTimedOut:
        start, end, n, sv = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [start],
                "session_end": [end],
                "n_events": [n],
                "sum_value": [sv],
            }
        )
        return
    events: list[tuple[int, float]] = []
    for pdf in pdfs:
        secs = (pdf["ts"].astype("int64") // 1_000_000_000).tolist()
        events.extend(zip(secs, pdf["value"].tolist()))
    events.sort()
    start = end = None
    n, sv = 0, 0.0
    if state.exists:
        start, end, n, sv = state.get
    out = {k: [] for k in ("user_id", "session_start", "session_end",
                           "n_events", "sum_value")}
    for ts, v in events:
        if start is None:
            start = end = ts
            n, sv = 1, float(v)
        elif ts - end > GAP_SECONDS:
            out["user_id"].append(user_id)
            out["session_start"].append(start)
            out["session_end"].append(end)
            out["n_events"].append(n)
            out["sum_value"].append(sv)
            start = end = ts
            n, sv = 1, float(v)
        else:
            end = max(end, ts)
            n += 1
            sv += float(v)
    if start is not None:
        state.update((start, end, n, sv))
        # the open session times out (emits) when the watermark passes
        # session_end + GAP — exactly when no event can extend it
        state.setTimeoutTimestamp((end + GAP_SECONDS) * 1000)
    if out["user_id"]:
        yield pd.DataFrame(out)


def stream_sessionize(
    spark: SparkSession, in_dir: str, out_dir: str, checkpoint_dir: str
) -> DataFrame:
    """File-source stream → watermark → applyInPandasWithState sessionize,
    drained exactly-once to parquet; returns the emitted sessions."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev_schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", WATERMARK)
        .select("user_id", "ts", "value")
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return drain(sessions, out_dir, checkpoint_dir)
