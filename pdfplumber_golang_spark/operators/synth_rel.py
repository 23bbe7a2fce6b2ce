"""Synthetic chars/edges relations (FIXTURES.md §3-4) + matching DuckDB SQL.

Deterministic derivations from the driver's ``documents`` table so every
layout DataFrame operator has an independent ANSI-SQL oracle. Geometry is
chosen to exercise each rule exactly:

chars (per char i of text):
  line_no = i // PDF_WRAP ; j = i % PDF_WRAP
  x0 = 72 + 7*j + 1.5*spaces_before_in_line   (width 6 -> inter-char gap 1)
  y0 = 720 - 12*line_no + ((i % 3) - 1)       (jitter ±1 < yTol=3)
  After a space the gap is 2.5: > 0.3*width=1.8 (word break, Y4) but NOT
  > xTol=3 (no inserted space, Y3) -> reassembled text is byte-identical to
  the PDF_WRAP-wrapped original.

edges (per PDF-plain doc): an (R+1)x(C+1) ruling grid, each segment emitted
  twice (exact dup -> G4) and each horizontal split into two touching halves
  (-> G8 consolidation), with ±0.4 y-jitter on the duplicate (< 0.1-snap?
  no: dup is exact; jitter applies to split halves' shared point only).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import spec

SPACE_EXTRA = 1.5
CHAR_W = 6.0
CHAR_ADV = 7.0


def chars_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → synthetic chars relation (url, page_no, char_idx, text,
    font, font_size, x0, y0, x1, y1, width, height)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    w = spec.PDF_WRAP
    exploded = docs.select(
        "doc_id",
        F.expr(spec.SQL_URL).alias("url"),
        F.explode(F.sequence(F.lit(0), F.length("text") - 1)).alias("i"),
        F.col("text").alias("_doc_text"),
    ).select(
        "doc_id",
        "url",
        "i",
        F.expr("substring(_doc_text, i + 1, 1)").alias("text"),
        (F.col("i") / w).cast("long").alias("line_no"),
        (F.col("i") % w).alias("j"),
        "_doc_text",
    )
    # spaces before this char within its line, as a pure string expression
    # (count of ' ' in the line prefix) instead of a lag/cumsum window —
    # the window forced an Exchange+Sort of the whole char relation keyed
    # (doc_id, line_no) that nothing downstream reuses (guide §2.4); the
    # prefix is ≤ PDF_WRAP chars so the expression is O(line width) per
    # char, fully map-side, identical values.
    line_prefix = F.expr(
        f"substring(_doc_text, cast(line_no * {w} + 1 as int), cast(j as int))"
    )
    spaces_before = F.length(line_prefix) - F.length(
        F.replace(line_prefix, F.lit(" "))
    )
    x0 = F.lit(spec.TEXT_X0) + CHAR_ADV * F.col("j") + SPACE_EXTRA * spaces_before
    y0 = F.lit(spec.TEXT_Y0) - spec.LEADING * F.col("line_no") + (F.col("i") % 3 - 1)
    return exploded.select(
        "url",
        F.lit(1).alias("page_no"),
        F.col("i").cast("long").alias("char_idx"),
        "text",
        F.lit("F1").alias("font"),
        F.lit(spec.FONT_SIZE).alias("font_size"),
        x0.cast("double").alias("x0"),
        y0.cast("double").alias("y0"),
        (x0 + CHAR_W).cast("double").alias("x1"),
        (y0 + spec.FONT_SIZE).cast("double").alias("y1"),
        F.lit(CHAR_W).alias("width"),
        F.lit(spec.FONT_SIZE).alias("height"),
    )


#: DuckDB CTE producing the identical chars relation
CHARS_REL_DUCKDB = f"""
chars AS (
  SELECT {spec.SQL_URL} AS url,
         1 AS page_no,
         CAST(i AS BIGINT) AS char_idx,
         substr(text, CAST(i + 1 AS INT), 1) AS ch,
         CAST(i // {spec.PDF_WRAP} AS BIGINT) AS line_no,
         i % {spec.PDF_WRAP} AS j,
         doc_id
  FROM (SELECT doc_id, text, unnest(generate_series(0, length(text) - 1)) AS i
        FROM documents)
), chars_pos AS (
  SELECT url, page_no, char_idx, ch AS text, line_no, j, doc_id,
         'F1' AS font, CAST({spec.FONT_SIZE} AS DOUBLE) AS font_size,
         CAST({spec.TEXT_X0} + {CHAR_ADV} * j + {SPACE_EXTRA} * COALESCE(SUM(CASE WHEN ch = ' ' THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id, line_no ORDER BY j
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) AS x0,
         CAST({spec.TEXT_Y0} - {spec.LEADING} * line_no + (char_idx % 3 - 1) AS DOUBLE) AS y0,
         CAST({CHAR_W} AS DOUBLE) AS width,
         CAST({spec.FONT_SIZE} AS DOUBLE) AS height
  FROM chars
), chars_rel AS (
  SELECT url, page_no, char_idx, text, font, font_size,
         x0, y0, x0 + {CHAR_W} AS x1, y0 + {spec.FONT_SIZE} AS y1,
         width, height, doc_id, line_no, j
  FROM chars_pos
)
"""


# --------------------------------------------------------------- edges -----

GRID_X0, GRID_Y0 = 72.0, 400.0
GRID_CELL_W, GRID_CELL_H = 40.0, 24.0


def edges_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic edges: ruling grid per doc, horizontals split into two
    touching halves, every segment duplicated (url, page_no, x0,y0,x1,y1,
    width, src)."""
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id")
        .withColumn("rows", F.expr("3 + doc_id % 3"))
        .withColumn("cols", F.expr("3 + doc_id % 2"))
        .withColumn("url", F.expr(spec.SQL_URL))
    )
    # horizontal lines: r in 0..rows; two halves each; copy in 0..1 (dup)
    h = (
        docs.select(
            "url", "rows", "cols",
            F.explode(F.sequence(F.lit(0), F.col("rows"))).alias("r"),
        )
        .select(
            "*",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("half"),
        )
        .select(
            "*",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("copy"),
        )
    )
    half_w = F.col("cols") * GRID_CELL_W / 2
    h_edges = h.select(
        "url",
        F.lit(1).alias("page_no"),
        (F.lit(GRID_X0) + F.col("half") * half_w).cast("double").alias("x0"),
        (F.lit(GRID_Y0) - F.col("r") * GRID_CELL_H).cast("double").alias("y0"),
        (F.lit(GRID_X0) + (F.col("half") + 1) * half_w).cast("double").alias("x1"),
        (F.lit(GRID_Y0) - F.col("r") * GRID_CELL_H).cast("double").alias("y1"),
        (F.lit(1.0) + F.col("copy")).alias("width"),
        F.lit("line").alias("src"),
    )
    v = docs.select(
        "url", "rows", "cols",
        F.explode(F.sequence(F.lit(0), F.col("cols"))).alias("c"),
    ).select("*", F.explode(F.array(F.lit(0), F.lit(1))).alias("copy"))
    v_edges = v.select(
        "url",
        F.lit(1).alias("page_no"),
        (F.lit(GRID_X0) + F.col("c") * GRID_CELL_W).cast("double").alias("x0"),
        (F.lit(GRID_Y0) - F.col("rows") * GRID_CELL_H).cast("double").alias("y0"),
        (F.lit(GRID_X0) + F.col("c") * GRID_CELL_W).cast("double").alias("x1"),
        F.lit(GRID_Y0).cast("double").alias("y1"),
        (F.lit(1.0) + F.col("copy")).alias("width"),
        F.lit("line").alias("src"),
    )
    return h_edges.unionByName(v_edges)


EDGES_REL_DUCKDB = f"""
edges_rel AS (
  SELECT {spec.SQL_URL} AS url, 1 AS page_no,
         CAST({GRID_X0} + half * (cols * {GRID_CELL_W} / 2) AS DOUBLE) AS x0,
         CAST({GRID_Y0} - r * {GRID_CELL_H} AS DOUBLE) AS y0,
         CAST({GRID_X0} + (half + 1) * (cols * {GRID_CELL_W} / 2) AS DOUBLE) AS x1,
         CAST({GRID_Y0} - r * {GRID_CELL_H} AS DOUBLE) AS y1,
         CAST(1.0 + copy AS DOUBLE) AS width, 'line' AS src, doc_id
  FROM (SELECT doc_id, 3 + doc_id % 3 AS rows, 3 + doc_id % 2 AS cols,
               unnest(generate_series(0, 3 + doc_id % 3)) AS r
        FROM documents),
       (SELECT unnest([0, 1]) AS half),
       (SELECT unnest([0, 1]) AS copy)
  UNION ALL
  SELECT {spec.SQL_URL} AS url, 1 AS page_no,
         CAST({GRID_X0} + c * {GRID_CELL_W} AS DOUBLE) AS x0,
         CAST({GRID_Y0} - rows * {GRID_CELL_H} AS DOUBLE) AS y0,
         CAST({GRID_X0} + c * {GRID_CELL_W} AS DOUBLE) AS x1,
         CAST({GRID_Y0} AS DOUBLE) AS y1,
         CAST(1.0 + copy AS DOUBLE) AS width, 'line' AS src, doc_id
  FROM (SELECT doc_id, 3 + doc_id % 3 AS rows, 3 + doc_id % 2 AS cols,
               unnest(generate_series(0, 3 + doc_id % 2)) AS c
        FROM documents),
       (SELECT unnest([0, 1]) AS copy)
)
"""


# ----------------------------------------------------------------- as-of ---

def asof_join_events(spark, sf_dir: str):
    """As-of join — the classic operator Spark lacks natively: for every
    'click' event, the LATEST 'view' by the same user at-or-before the
    click's timestamp.

    Implemented as the scalable union + windowed last-non-null
    composition: tag views 0 / clicks 1, sort per user by (ts, tag), and
    carry the most recent view forward with one window — ONE shuffle on
    user_id, no range-join product, no per-row probe.  At 10^12 events
    this is the shape that survives: the window state per user is a
    single value.  The oracle is DuckDB's NATIVE ASOF LEFT JOIN, so two
    entirely different algorithms must agree row-for-row (the fixture has
    no (user_id, ts) ties, so the match is well-defined).

    Null-match handling: ids coalesce to -1 and timestamps render as
    strings on BOTH engines (a NULL bigint would round-trip through
    pandas as float64 and break the value hash).
    """
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    v = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("src_id"), F.lit(0).alias("tag")
    )
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("src_id"), F.lit(1).alias("tag")
    )
    u = v.unionByName(c)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    view_id = F.last(
        F.when(F.col("tag") == 0, F.col("src_id")), ignorenulls=True
    ).over(w)
    view_ts = F.last(
        F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True
    ).over(w)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        u.withColumn("view_id", view_id)
        .withColumn("view_ts", view_ts)
        .where(F.col("tag") == 1)
        .select(
            F.col("src_id").cast("long").alias("click_id"),
            F.col("user_id").cast("long").alias("user_id"),
            F.date_format("ts", fmt).alias("click_ts"),
            F.coalesce(F.col("view_id"), F.lit(-1)).cast("long").alias("view_id"),
            F.coalesce(F.date_format("view_ts", fmt), F.lit("")).alias("view_ts"),
        )
    )


def asof_join_events_oracle() -> str:
    return """
WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
c AS (SELECT * FROM events WHERE event_type = 'click')
SELECT CAST(c.event_id AS BIGINT) AS click_id,
       CAST(c.user_id AS BIGINT) AS user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
       CAST(COALESCE(v.event_id, -1) AS BIGINT) AS view_id,
       COALESCE(strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f'), '') AS view_ts
FROM c ASOF LEFT JOIN v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""


# ------------------------------------------------------------ range join ---

RANGE_WINDOW_S = 3600  # +-1 hour


def event_range_join(spark, sf_dir: str):
    """Interval/range join at scale — the bin-and-refine shape: for every
    'error' event, count and sum same-user events within +-1 hour.

    Catalyst has no native interval join (a raw inequality join is a
    per-user cross product), so each error explodes to its time bucket
    and both neighbors (bucket width = the window, so any in-range pair
    shares a bucket), the probe is an EQUI-join on (user_id, bucket), and
    the exact |dt| <= window predicate refines — candidate volume is
    bounded by events-per-bucket, never n^2.  Same pattern as the
    chars-in-cells join (operators/table_ops.fill_cells).  The oracle is
    DuckDB's naive inequality join: different plan, same rows."""
    import os

    from pyspark.sql import functions as F

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # parquet yields TIMESTAMP_NTZ; hop through TIMESTAMP (session tz is
    # UTC) to get epoch seconds with fractional microseconds, matching
    # DuckDB's epoch(ts)
    epoch = F.col("ts").cast("timestamp").cast("double")
    base = ev.select(
        "event_id", "user_id", "event_type", "value", epoch.alias("sec"),
        (epoch / RANGE_WINDOW_S).cast("long").alias("bucket"),
    )
    probes = base.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id"),
        F.col("sec").alias("err_sec"),
        F.explode(
            F.array(
                F.col("bucket") - 1, F.col("bucket"), F.col("bucket") + 1
            )
        ).alias("bucket"),
    )
    cands = base.select(
        "user_id", "bucket", F.col("event_id").alias("nbr_id"),
        F.col("sec").alias("nbr_sec"), "value",
    )
    joined = probes.join(cands, ["user_id", "bucket"]).where(
        (F.abs(F.col("nbr_sec") - F.col("err_sec")) <= RANGE_WINDOW_S)
        & (F.col("nbr_id") != F.col("err_id"))
    )
    return (
        joined.groupBy("err_id")
        .agg(
            F.count("*").alias("n_nearby"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .select(
            F.col("err_id").cast("long").alias("err_id"),
            F.col("n_nearby").cast("long").alias("n_nearby"),
            "sum_value",
        )
    )


def event_range_join_oracle() -> str:
    return f"""
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS sec, value FROM events
),
err AS (SELECT e.* FROM e JOIN events ev USING (event_id)
        WHERE ev.event_type = 'error')
SELECT CAST(err.event_id AS BIGINT) AS err_id,
       CAST(COUNT(*) AS BIGINT) AS n_nearby,
       ROUND(SUM(n.value), 3) AS sum_value
FROM err JOIN e n
  ON n.user_id = err.user_id
 AND abs(n.sec - err.sec) <= {RANGE_WINDOW_S}
 AND n.event_id != err.event_id
GROUP BY err.event_id
"""
