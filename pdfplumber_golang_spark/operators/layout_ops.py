"""Layout analysis as DataFrame operators (SURVEY §2.5-2.6, Y1-Y7 + G4-G8).

The kernel (`kernel/layout.py`) runs these semantics imperatively per page
for the byte-parity path; this module expresses the SAME dataflow as
pyspark.sql window/groupBy operators over a flat ``chars``/``edges``
relation — fully Catalyst-visible (whole-stage codegen, no Python in the
hot path) and oracle-checkable in SQL.

Sessionize pattern used throughout (SURVEY §2.8): ``lag`` over an ordered
window → gap flag → cumulative ``sum`` → group id. Note: lag-based line
grouping is the classic approximation of the reference's anchor sweep
(text_organizer.go:81-94); identical whenever intra-line jitter stays within
tolerance and inter-line gaps exceed it (our corpora guarantee this; the
kernel keeps exact anchor semantics for byte parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import spec

_W_PAGE = ["url", "page_no"]


def with_line_ids(chars: DataFrame, y_tol: float = spec.Y_TOLERANCE) -> DataFrame:
    """Y2: assign line_id by y-descending sweep (new line when the y gap to
    the previous char exceeds y_tol). line_id is 1-based in reading order."""
    w = Window.partitionBy(*_W_PAGE).orderBy(F.desc("y0"), F.asc("x0"), F.asc("char_idx"))
    prev_y = F.lag("y0").over(w)
    new_line = F.when(prev_y.isNull() | (prev_y - F.col("y0") > y_tol), 1).otherwise(0)
    return chars.withColumn(
        "line_id",
        F.sum(new_line).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def with_word_ids(chars: DataFrame, x_tol: float = spec.X_TOLERANCE) -> DataFrame:
    """Y4: within a line, new word when gap > x_tol OR gap > 0.3*width
    (text_organizer.go:171-180), or after an explicit space char (the
    kernel's extract_words flushes the current word on ' ',
    kernel/layout.py) — real PDF chars advance by exactly their width, so
    spaces carry zero gap and must delimit by identity. Requires line_id."""
    w = Window.partitionBy("url", "page_no", "line_id").orderBy("x0", "char_idx")
    gap = F.col("x0") - F.lag("x1").over(w)
    prev_is_space = F.lag("text").over(w) == " "
    new_word = F.when(
        gap.isNull()
        | (gap > x_tol)
        | (gap > F.col("width") * 0.3)
        | prev_is_space,
        1,
    ).otherwise(0)
    return chars.withColumn(
        "word_id",
        F.sum(new_word).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def words(chars: DataFrame) -> DataFrame:
    """Y5: word aggregation — concat member chars in x order, bbox min/max.
    Space chars are excluded from membership (G3 predicate filter) so word
    text is clean; they still delimit words via the gap rule."""
    with_ids = with_word_ids(with_line_ids(chars))
    return (
        with_ids.where(F.col("text") != " ")
        .groupBy("url", "page_no", "line_id", "word_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("x0", "char_idx", "text"))
                    ),
                    lambda s: s["text"],
                ),
            ).alias("word_text"),
            F.min("x0").alias("x0"),
            F.min("y0").alias("y0"),
            F.max("x1").alias("x1"),
            F.max("y1").alias("y1"),
            F.count("*").cast("long").alias("n_chars"),
        )
    )


def lines(chars: DataFrame, x_tol: float = spec.X_TOLERANCE) -> DataFrame:
    """Y3+Y6: line text with gap-inserted spaces (gap > x_tol AND
    gap > 0.5*width, text_organizer.go:118-127) + line bbox."""
    with_ids = with_line_ids(chars)
    w = Window.partitionBy("url", "page_no", "line_id").orderBy("x0", "char_idx")
    gap = F.col("x0") - F.lag("x1").over(w)
    piece = F.when(
        gap.isNotNull() & (gap > x_tol) & (gap > F.col("width") * 0.5),
        F.concat(F.lit(" "), F.col("text")),
    ).otherwise(F.col("text"))
    return (
        with_ids.withColumn("piece", piece)
        .groupBy("url", "page_no", "line_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("x0", "char_idx", "piece"))
                    ),
                    lambda s: s["piece"],
                ),
            ).alias("line_text"),
            F.min("x0").alias("x0"),
            F.min("y0").alias("y0"),
            F.max("x1").alias("x1"),
            F.max("y1").alias("y1"),
            F.count("*").cast("long").alias("n_chars"),
        )
    )


def doc_text_from_chars(chars: DataFrame) -> DataFrame:
    """Whole-document text: pages joined by '\n' in page order.

    Computed as ONE groupBy over the lines relation (r6, guide §2.4):
    the page separator and the line separator are both '\n', so
    '\n'.join over pages of ('\n'.join over lines) equals '\n'.join
    over all lines ordered by (page_no, line_id) — byte-identical, and
    the intermediate per-page aggregation exchange disappears.
    (line_id is unique within a page, so the struct sort never falls
    through to comparing line_text.)"""
    return (
        lines(chars)
        .groupBy("url")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct("page_no", "line_id", "line_text")
                        )
                    ),
                    lambda s: s["line_text"],
                ),
            ).alias("text")
        )
    )


# ------------------------------------------------------------ edges ops ----

def canonicalize_edges(edges: DataFrame) -> DataFrame:
    """Order endpoints canonically ((x0,y0) <= (x1,y1) lexicographically) so
    direction-flipped duplicates collide (utils.go linesEqual both-direction
    check, /root/reference/pkg/pdf/utils.go:33-60)."""
    flip = (F.col("x0") > F.col("x1")) | (
        (F.col("x0") == F.col("x1")) & (F.col("y0") > F.col("y1"))
    )
    return (
        edges.withColumn("_nx0", F.when(flip, F.col("x1")).otherwise(F.col("x0")))
        .withColumn("_ny0", F.when(flip, F.col("y1")).otherwise(F.col("y0")))
        .withColumn("_nx1", F.when(flip, F.col("x0")).otherwise(F.col("x1")))
        .withColumn("_ny1", F.when(flip, F.col("y0")).otherwise(F.col("y1")))
        .drop("x0", "y0", "x1", "y1")
        .withColumnsRenamed({"_nx0": "x0", "_ny0": "y0", "_nx1": "x1", "_ny1": "y1"})
    )


def dedup_edges(edges: DataFrame, tol: float = 0.1) -> DataFrame:
    """G4/G5: drop near-duplicate segments — round endpoints to `tol` grid
    keys and keep one row per key (DeduplicateLines, utils.go:12-60)."""
    e = canonicalize_edges(edges)
    keys = [F.round(F.col(c) / tol).alias(f"k_{c}") for c in ("x0", "y0", "x1", "y1")]
    w = Window.partitionBy(
        "url", "page_no", "k_x0", "k_y0", "k_x1", "k_y1"
    ).orderBy(F.desc("width"))
    return (
        e.select("*", *keys)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "k_x0", "k_y0", "k_x1", "k_y1")
    )


def classify_orientation(edges: DataFrame, snap_tol: float = 3.0) -> DataFrame:
    """T2: |Δy| < snapTol → 'h'; |Δx| < snapTol → 'v'; else 'other'
    (collectTableLines, table_extractor.go:127-148)."""
    dy = F.abs(F.col("y1") - F.col("y0"))
    dx = F.abs(F.col("x1") - F.col("x0"))
    return edges.withColumn(
        "orientation",
        F.when(dy < snap_tol, F.lit("h"))
        .when(dx < snap_tol, F.lit("v"))
        .otherwise(F.lit("other")),
    )


def consolidate_edges(
    edges: DataFrame, snap_tol: float = 3.0, join_tol: float = 1.0
) -> DataFrame:
    """G8: merge collinear overlapping/touching segments per rounded axis
    position (ConsolidateTableLines, utils.go:109-228).

    Sessionize: within (url, page, orientation, snapped cross-axis pos),
    order by main-axis start; a segment starts a new run when its start
    exceeds the running max end + join_tol. Output: one row per run with
    min(start), max(end), max(width)."""
    e = classify_orientation(edges, snap_tol).where(F.col("orientation") != "other")
    is_h = F.col("orientation") == "h"
    e = (
        e.withColumn("pos_key", F.round(F.when(is_h, (F.col("y0") + F.col("y1")) / 2)
                                        .otherwise((F.col("x0") + F.col("x1")) / 2) / snap_tol))
        .withColumn("lo", F.when(is_h, F.least("x0", "x1")).otherwise(F.least("y0", "y1")))
        .withColumn("hi", F.when(is_h, F.greatest("x0", "x1")).otherwise(F.greatest("y0", "y1")))
    )
    w = Window.partitionBy("url", "page_no", "orientation", "pos_key").orderBy("lo", "hi")
    run_max_prev = F.max("hi").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_run = F.when(
        run_max_prev.isNull() | (F.col("lo") > run_max_prev + join_tol), 1
    ).otherwise(0)
    e = e.withColumn(
        "run_id", F.sum(new_run).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return e.groupBy("url", "page_no", "orientation", "pos_key", "run_id").agg(
        F.min("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.max("width").alias("width"),
        F.count("*").cast("long").alias("n_segments"),
    )


def filter_page_border_lines(
    edges: DataFrame, page_w: float, page_h: float, margin: float = 1.0
) -> DataFrame:
    """G6: drop lines hugging the page border (< margin from any edge,
    FilterPageBorderLines, /root/reference/pkg/pdf/utils.go:63-80)."""
    near = (
        (F.least("x0", "x1") < margin)
        | (F.greatest("x0", "x1") > page_w - margin)
    ) & (F.abs(F.col("x1") - F.col("x0")) < margin)
    near_h = (
        (F.least("y0", "y1") < margin)
        | (F.greatest("y0", "y1") > page_h - margin)
    ) & (F.abs(F.col("y1") - F.col("y0")) < margin)
    return edges.where(~(near | near_h))


def filter_table_candidate_lines(
    edges: DataFrame,
    x_min: float = 20.0,
    x_max: float = 575.0,
    y_min: float = 20.0,
) -> DataFrame:
    """G7: keep axis-aligned lines inside the content margins
    (FilterTableLines, utils.go:83-106 — note the A4-specific constants,
    kept as defaults for parity)."""
    axis = (F.abs(F.col("y1") - F.col("y0")) < 3.0) | (
        F.abs(F.col("x1") - F.col("x0")) < 3.0
    )
    inside = (
        (F.least("x0", "x1") >= x_min)
        & (F.greatest("x0", "x1") <= x_max)
        & (F.least("y0", "y1") >= y_min)
    )
    return edges.where(axis & inside)


def column_histogram(
    chars: DataFrame, snap_tol: float = 3.0, min_count: int = 3
) -> DataFrame:
    """T8: column x-positions = snapped char x0 histogram with count >=
    min_count (findTextColumns, table_extractor.go:589-613)."""
    return (
        chars.groupBy(
            "url", "page_no",
            (F.round(F.col("x0") / snap_tol) * snap_tol).alias("col_x"),
        )
        .agg(F.count("*").cast("long").alias("n_chars"))
        .where(F.col("n_chars") >= min_count)
    )
