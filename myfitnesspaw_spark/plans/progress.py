"""Q1 — the progress report, generalized to the star-schema testdata.

Reference: ``select_progress_report``
(`/root/reference/myfitnesspaw/sql.py:196-235`).  Construct-for-
construct mapping (SURVEY.md §2.6), with the fixture role equivalences
of FIXTURES.md §5:

===========================  =========================================
reference construct           this plan
===========================  =========================================
userid                        ``customer.c_custkey``
Goals rows per (user, date)   distinct (o_custkey, o_orderdate) spine,
                              goal = ``c_acctbal`` (broadcast join)
latest weight (Q1b:           ``max_by(value, ts)`` over ``events``
 correlated ORDER BY/LIMIT 1)  per user — argmax aggregate, no window
RMR arithmetic (Q1c)          same formula on the latest event value
day_number (Q1d)              ``row_number`` — PARTITIONED BY custkey
                              (the reference's global window serializes
                              at scale; SURVEY.md §7.4)
date → DD-Mon-YYYY (Q1e)      ``date_format(date, 'dd-MMM-yyyy')``
cardio SUM w/ COALESCE (Q1h)  conditional SUM of discount amounts on
                              returnflag 'R' rows, COALESCE → 0
meals SUM, NULL-propagating   conditional SUM of net revenue on
 (Q1i — load-bearing NULL)     returnflag 'A' rows, NO coalesce
deficit arithmetic + CAST     trunc-toward-zero to BIGINT (Q1j)
running total (Q1k)           SUM over rows-unbounded-preceding window
                              partitioned by custkey, COALESCE → 0
outer IS NOT NULL (Q1m)       filter AFTER the windows — day_number and
                              the running total must count/sum the
                              no-activity days exactly like the
                              reference does before its outer filter
===========================  =========================================

Scale notes (100 TB stance):
- ONE shuffle computes both conditional aggregates (spend + burn) from
  a single pass over lineitem⋈orders — not two scans.
- All windows are partitioned by custkey; nothing is globally ordered.
- customer and the per-user argmax are tiny → broadcast joins.
- The start-date filter is applied to orders before the fact join, so
  it pushes down to the parquet scan.

Serving: ``progress_report`` does not run the plan per call.  It
returns a per-data-version, driver-resident snapshot of the full table
(``plans.serving``), so a point request
(``progress_report(...).where(custkey == k)``) is folded by Catalyst
into the local relation and starts no Spark job.  The snapshot is
rebuilt when the listing, size or mtime of an input file
(orders, lineitem, customer, events) changes, or under a new
SparkContext.  It holds the whole report on the driver:
O(customers × active days) rows.  The registry name
``progress_report`` maps to the Catalyst plan, ``progress_plan``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from myfitnesspaw_spark.functions import money_cents, trunc_long
from myfitnesspaw_spark.plans import serving
from myfitnesspaw_spark.sources import load_table

START_DATE = "1996-01-01"
DEFAULT_WEIGHT = 80.0
INPUT_TABLES = ("orders", "lineitem", "customer", "events")


def progress_report(
    spark: SparkSession,
    sf_dir: str,
    start_date: str = START_DATE,
    default_weight: float = DEFAULT_WEIGHT,
) -> DataFrame:
    """The full progress table, served from the per-version snapshot."""
    return serving.snapshot(
        spark,
        ("progress_report", sf_dir, start_date, default_weight),
        sf_dir,
        INPUT_TABLES,
        lambda: progress_plan(spark, sf_dir, start_date, default_weight),
    )


def progress_plan(
    spark: SparkSession,
    sf_dir: str,
    start_date: str = START_DATE,
    default_weight: float = DEFAULT_WEIGHT,
) -> DataFrame:
    """The Catalyst plan of the progress report over the star."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").cast("date") >= F.lit(start_date).cast("date")
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")

    # Q1b: latest measurement per user — argmax aggregate instead of the
    # reference's correlated ORDER-BY/LIMIT-1 subquery (sql.py:201).
    weight = events.groupBy(F.col("user_id").alias("custkey")).agg(
        F.max_by("value", "ts").alias("latest_weight")
    )

    # Goals spine: one row per (custkey, date) — includes dates with no
    # qualifying activity so day_number counts them (Q1d before Q1m).
    goals = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("date").alias("date"),
    ).distinct()

    # Q1h + Q1i in ONE pass: conditional sums over the fact join.
    # 'A'-flag net revenue plays the meals SUM (NULL when absent —
    # sql.py:225 deliberately omits COALESCE); 'R'-flag discount amount
    # plays the cardio SUM (COALESCE→0, sql.py:222).
    cents_spend = money_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    cents_burn = money_cents(F.col("l_extendedprice") * F.col("l_discount"))
    activity = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").cast("date").alias("date"),
        )
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "A", cents_spend)).alias("spend_cents"),
            F.sum(F.when(F.col("l_returnflag") == "R", cents_burn)).alias("burn_cents"),
        )
    )

    base = (
        goals.join(customer, goals.custkey == customer.c_custkey)
        .join(weight, "custkey", "left")
        .join(activity, ["custkey", "date"], "left")
        .select(
            "custkey",
            "date",
            # Q1c: RMR formula, hardcoded height/age like sql.py:201.
            (
                1.2
                * (
                    10.0 * F.coalesce(F.col("latest_weight"), F.lit(default_weight))
                    + 6.25 * 182.0
                    - 5.0 * 34.0
                    + 5.0
                )
            ).alias("rmr"),
            F.col("c_acctbal").alias("goal"),
            (F.coalesce(F.col("burn_cents"), F.lit(0)) / 100.0).alias("burn"),
            (F.col("spend_cents") / 100.0).alias("spend"),
        )
    )

    w = Window.partitionBy("custkey").orderBy("date")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deficit_target = trunc_long(F.col("rmr") - F.col("goal") + F.col("burn"))
    deficit_actual = trunc_long(
        (F.col("rmr") - F.col("goal") + F.col("burn")) + (F.col("goal") - F.col("spend"))
    )

    windowed = base.select(
        "custkey",
        "date",
        F.row_number().over(w).alias("day_number"),
        F.date_format("date", "dd-MMM-yyyy").alias("date_fmt"),
        deficit_target.alias("deficit_target"),
        deficit_actual.alias("deficit_actual"),
        F.coalesce(F.sum(deficit_actual).over(wsum), F.lit(0)).alias("total"),
    )

    # Q1m: drop no-activity days AFTER the windows counted them.
    return windowed.where(F.col("deficit_actual").isNotNull())


PROGRESS_ORACLE = f"""
WITH weight AS (
  SELECT user_id AS custkey, max_by(value, ts) AS latest_weight
  FROM events GROUP BY user_id
),
goals AS (
  SELECT DISTINCT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS date
  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '{START_DATE}'
),
activity AS (
  SELECT o.o_custkey AS custkey, CAST(o.o_orderdate AS DATE) AS date,
         SUM(CASE WHEN l.l_returnflag = 'A'
             THEN CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) END)
           AS spend_cents,
         SUM(CASE WHEN l.l_returnflag = 'R'
             THEN CAST(ROUND(l.l_extendedprice * l.l_discount * 100) AS BIGINT) END)
           AS burn_cents
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE CAST(o.o_orderdate AS DATE) >= DATE '{START_DATE}'
  GROUP BY 1, 2
),
base AS (
  SELECT g.custkey, g.date,
         1.2 * (10.0 * COALESCE(w.latest_weight, {DEFAULT_WEIGHT}) + 6.25 * 182.0 - 5.0 * 34.0 + 5.0) AS rmr,
         c.c_acctbal AS goal,
         COALESCE(a.burn_cents, 0) / 100.0 AS burn,
         a.spend_cents / 100.0 AS spend
  FROM goals g
  JOIN customer c ON g.custkey = c.c_custkey
  LEFT JOIN weight w ON g.custkey = w.custkey
  LEFT JOIN activity a ON g.custkey = a.custkey AND g.date = a.date
),
windowed AS (
  SELECT custkey, date,
         ROW_NUMBER() OVER (PARTITION BY custkey ORDER BY date) AS day_number,
         strftime(date, '%d-%b-%Y') AS date_fmt,
         CAST(TRUNC(rmr - goal + burn) AS BIGINT) AS deficit_target,
         CAST(TRUNC((rmr - goal + burn) + (goal - spend)) AS BIGINT) AS deficit_actual,
         CAST(COALESCE(SUM(CAST(TRUNC((rmr - goal + burn) + (goal - spend)) AS BIGINT))
                       OVER (PARTITION BY custkey ORDER BY date
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
              AS BIGINT) AS total
  FROM base
)
SELECT custkey, date, day_number, date_fmt, deficit_target, deficit_actual, total
FROM windowed
WHERE deficit_actual IS NOT NULL
"""


# --- R2 driver-certified: render -> decode -> count ----------------------

CHART_END_GOAL = 1_000_000  # cents; constant so the oracle can inline it
CHART_W, CHART_H = 550, 70  # the reference's 5.5x0.7 in at 100 dpi


def _chart_pixel_batches(batches):
    """Arrow-batched kernel: per user, run the REAL report path —
    chart_segments -> render_progress_bar_png (stdlib PNG encoder) ->
    png_decode_rgb (chunk walk + CRC + inflate) — and emit the decoded
    dimensions plus per-palette-color pixel counts.  Row-local, no
    state: parallelism is the number of users."""
    import numpy as np
    import pandas as pd

    from myfitnesspaw_spark.report.chart import (
        _hex_rgb,
        png_decode_rgb,
        render_progress_bar_png,
    )
    from myfitnesspaw_spark.report.progress import chart_segments

    for pdf in batches:
        out = []
        for uid, total, delta in zip(
            pdf["user_id"], pdf["total_cents"], pdf["delta_cents"]
        ):
            segments, palette = chart_segments(
                int(total), int(delta), CHART_END_GOAL
            )
            png = render_progress_bar_png(segments, palette)
            w, h, img = png_decode_rgb(png)
            counts = {
                name: int(
                    (img == np.array(_hex_rgb(palette[name]), dtype=np.uint8))
                    .all(axis=2)
                    .sum()
                )
                for name in ("done", "today", "remaining")
            }
            out.append(
                (int(uid), w, h, counts["done"], counts["today"], counts["remaining"])
            )
        yield pd.DataFrame(
            {
                "user_id": pd.Series([r[0] for r in out], dtype="int64"),
                "width": pd.Series([r[1] for r in out], dtype="int32"),
                "height": pd.Series([r[2] for r in out], dtype="int32"),
                "done_px": pd.Series([r[3] for r in out], dtype="int64"),
                "today_px": pd.Series([r[4] for r in out], dtype="int64"),
                "remaining_px": pd.Series([r[5] for r in out], dtype="int64"),
            }
        )


def chart_render_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 end-to-end, oracle-checkable: per user, derive the progress
    numbers from events (exact cents), render the stacked-bar chart
    through the real stdlib PNG encoder, DECODE the PNG back, and
    count painted pixels per segment color.  The renderer's pixel
    x-bounds are exact-integer half-even rounding, so the oracle
    recomputes the counts in plain SQL — certifying the report
    layer's codec + geometry in the driver's hash-compare, not just
    in pytest (VERDICT r6 #8).

    total = lifetime cents; today_delta = cents(last active day) −
    cents(first active day) — sign exercises both palette branches.

    Scale shape: one groupBy(user, day) + one groupBy(user) (both
    map-side-combined), then a row-local Arrow kernel over the
    user-sized aggregate; no window, no collect, no driver loop.
    """
    from myfitnesspaw_spark.sources import scatter

    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(
            "user_id",
            F.to_date("ts").alias("d"),
            money_cents(F.col("value")).alias("cents"),
        )
        .groupBy("user_id", "d")
        .agg(F.sum("cents").alias("c"))
    )
    agg = daily.groupBy("user_id").agg(
        F.sum("c").alias("total_cents"),
        (F.max_by("c", "d") - F.min_by("c", "d")).alias("delta_cents"),
    )
    schema = (
        "user_id bigint, width int, height int, "
        "done_px bigint, today_px bigint, remaining_px bigint"
    )
    return scatter(agg).mapInPandas(_chart_pixel_batches, schema)


# Exact-integer replication of the render geometry: segment widths
# from chart_segments, x-bounds = round-half-even(cum*550/total), bar
# band height = 70 - 2*(70//4) = 36 rows.  The CASE chain implements
# ties-to-even on integers — identical to the renderer's
# _round_half_even by construction.
CHART_RENDER_ORACLE = f"""
WITH daily AS (
  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
agg AS (
  SELECT user_id, CAST(SUM(c) AS BIGINT) AS total_c,
         CAST(arg_max(c, d) - arg_min(c, d) AS BIGINT) AS delta_c
  FROM daily GROUP BY user_id
),
seg AS (
  SELECT user_id,
         CASE WHEN delta_c >= 0 THEN GREATEST(total_c - delta_c, 0)
              ELSE GREATEST(total_c, 0) END AS done_w,
         ABS(delta_c) AS today_w
  FROM agg
),
seg2 AS (
  SELECT user_id, done_w, today_w,
         GREATEST({CHART_END_GOAL} - done_w - today_w, 0) AS rem_w
  FROM seg
),
tot AS (
  SELECT user_id, done_w, today_w, rem_w,
         done_w + today_w + rem_w AS t
  FROM seg2
),
x AS (
  SELECT user_id, t,
         CASE WHEN 2 * ((done_w * {CHART_W}) % t) < t
                THEN (done_w * {CHART_W}) // t
              WHEN 2 * ((done_w * {CHART_W}) % t) > t
                THEN (done_w * {CHART_W}) // t + 1
              ELSE (done_w * {CHART_W}) // t
                   + (((done_w * {CHART_W}) // t) % 2) END AS x1,
         CASE WHEN 2 * (((done_w + today_w) * {CHART_W}) % t) < t
                THEN ((done_w + today_w) * {CHART_W}) // t
              WHEN 2 * (((done_w + today_w) * {CHART_W}) % t) > t
                THEN ((done_w + today_w) * {CHART_W}) // t + 1
              ELSE ((done_w + today_w) * {CHART_W}) // t
                   + ((((done_w + today_w) * {CHART_W}) // t) % 2) END AS x2
  FROM tot
)
SELECT user_id,
       CAST({CHART_W} AS INT) AS width,
       CAST({CHART_H} AS INT) AS height,
       CAST(36 * x1 AS BIGINT) AS done_px,
       CAST(36 * (x2 - x1) AS BIGINT) AS today_px,
       CAST(36 * ({CHART_W} - x2) AS BIGINT) AS remaining_px
FROM x
"""
