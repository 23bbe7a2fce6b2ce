"""Stream-stream interval join: click→view attribution over the events
stream — the remaining Structured Streaming operator class (stateful
two-sided join), alongside the existing windowed aggs, stateful
sessionize, and watermark dedup.

Each 'click' joins the same user's 'view' events from the preceding
JOIN_INTERVAL — the canonical attribution query, one band (theta) join
whether it runs inner or left-outer.  Both sides carry event-time
watermarks, so Spark bounds the join state: a side's rows are evicted
once the watermark passes ts + interval.  The JOIN_WATERMARK horizon
covers the fixture's replay span, making the drained AvailableNow result
EXACTLY the batch join (the oracle's SQL); in production the horizon is
the attribution window's retention knob, and state is one row per
in-horizon event per side.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import drain

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)

JOIN_INTERVAL = "6 hours"
JOIN_WATERMARK = "45 days"


def stream_interval_join(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    how: str = "inner",
) -> DataFrame:
    """File-stream the events table twice (clicks side, views side), join
    on user with the view inside the click's look-back interval, drain
    exactly-once to parquet.

    ``how`` is "inner" or "left".  The left-outer form (VERDICT r4 #7)
    also emits each click with no attributable view, with a NULL view_id,
    once the watermark passes its horizon.  State and eviction are the
    same as the inner form; the only addition is the null emission on
    eviction.  Emission timing makes its drain subtle: see
    write_join_barriers — the input must end with punctuation files or an
    AvailableNow run terminates before acting on its final watermark and
    silently degrades to the inner join."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', not {how!r}")
    # left: one file per micro-batch keeps each barrier in its own batch
    # (two barriers in one batch would again leave the advance un-acted-on)
    max_files = 1 if how == "left" else 4

    def side(event_type: str, prefix: str):
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", max_files)
            .parquet(in_dir)
            .where(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", JOIN_WATERMARK)
        )

    joined = side("click", "click").join(
        side("view", "view"),
        (F.col("click_user") == F.col("view_user"))
        & (F.col("view_ts") >= F.expr(f"click_ts - interval {JOIN_INTERVAL}"))
        & (F.col("view_ts") <= F.col("click_ts")),
        how,
    ).select(
        "click_id", "view_id",
        F.col("click_user").alias("user_id"),
    )
    return drain(joined, out_dir, checkpoint_dir)


def write_join_barriers(spark, in_dir: str, base_ts) -> None:
    """Append two barrier files that let an AvailableNow drain emit the
    LEFT-outer join's unmatched rows.

    Structured Streaming evicts (and null-emits) outer state only when
    the watermark passes a row's horizon, and a batch's watermark comes
    from the batches BEFORE it — AvailableNow never runs a batch after
    the last file, so without help the final watermark advance is never
    acted on.  Two punctuation files fix it: barrier 1 advances the
    watermark past every real row's horizon, barrier 2 triggers the
    batch that applies it (plus the engine's no-data batch finishes any
    remainder).

    Three traps the barrier rows must dodge, all learned the hard way:
    the per-side ``event_type`` filters are PUSHED INTO the parquet scan,
    so a 'barrier' type never reaches the watermark node (its row-group
    is pruned and numInputRows is 0) — barriers must be typed 'click'
    and 'view'; they must use negative user ids (and distinct ones per
    type) so they join nothing real and never each other; and their
    timestamps must sit beyond watermark + interval so the barrier click
    itself is never evicted into the output."""
    watermark_days = int(JOIN_WATERMARK.split()[0])
    for i in range(2):
        ts = base_ts + datetime.timedelta(days=watermark_days + 1 + i)
        spark.createDataFrame(
            [(-1 - 2 * i, ts, -1, "click", 0.0, ""),
             (-2 - 2 * i, ts, -2, "view", 0.0, "")],
            EVENTS_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(in_dir)
