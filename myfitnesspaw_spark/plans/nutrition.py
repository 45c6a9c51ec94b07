"""Q2 — the nutrition report, generalized to the star-schema testdata.

Reference: ``select_nutrition_report``
(`/root/reference/myfitnesspaw/sql.py:237-267`).  Mapping (SURVEY.md
§2.7):

===========================  =========================================
reference construct           this plan
===========================  =========================================
params CTE / user filter      market-segment equality filter via a
 (Q2a/Q2c)                     broadcast customer join + BETWEEN range
multi-SUM GROUP BY (Q2d)      6 measures per (custkey, date) over
                              lineitem⋈orders in ONE pass
actuals ⋈ Goals 2-key join    per-(custkey, date) order totals join
 (Q2f)
weekday name (Q2g:            ``date_format(date, 'EEE')``
 strftime('%w') lookup trick)
ORDER BY date (Q2h)           orderBy — semantics only; the driver's
                              compare is order-insensitive
===========================  =========================================

The reference's header-row UNION trick (Q2e, `sql.py:246-254`) is a
presentation concern that would force every column to string; per
SURVEY.md §7.4 it stays out of the typed engine result.

Scale notes: one shuffle for the fact aggregation, one for the
order-totals aggregation, join on identical keys (custkey, date) —
AQE co-partitions them; customer is broadcast.  The date range and
segment are filters on grouping keys of ``nutrition_daily``, so
Catalyst pushes them below both aggregations into the orders and
customer scans.

Serving: ``nutrition_report`` does not run the plan per call.  It
filters a per-data-version, driver-resident snapshot of
``nutrition_daily`` — every (custkey, date, c_mktsegment) row, stored
in (custkey, date) order — by date range and segment (``plans.serving``);
Catalyst folds that filter into the local relation, so a request starts
no Spark job, and the filter keeps the stored order, so no sort runs
either.  The snapshot is rebuilt when the listing, size or mtime of an
input file (orders, lineitem, customer) changes, or under a new
SparkContext.  It holds O(customers × active days) rows on the driver.
The registry name ``nutrition_report`` maps to the Catalyst plan,
``nutrition_plan``: ``nutrition_daily``, the same filter, then
``orderBy``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from myfitnesspaw_spark.functions import money_cents
from myfitnesspaw_spark.plans import serving
from myfitnesspaw_spark.sources import load_table

DATE_FROM = "1997-01-01"
DATE_TO = "1998-06-30"
SEGMENT = "BUILDING"
INPUT_TABLES = ("orders", "lineitem", "customer")
MEASURES = (
    "sum_qty",
    "sum_base",
    "sum_revenue",
    "sum_disc",
    "sum_tax",
    "n_items",
    "goal_total",
    "n_orders",
)
COLUMNS = ("custkey", "date", "weekday", *MEASURES)


def nutrition_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every day's measures per (custkey, date, c_mktsegment)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("date"),
        "o_totalprice",
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")

    # Q2d: the 6-measure hash aggregation (reference's nutrient sextet).
    actual = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("o_custkey").alias("custkey"), "date", "c_mktsegment")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            (F.sum(money_cents(F.col("l_extendedprice"))) / 100.0).alias("sum_base"),
            (
                F.sum(money_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / 100.0
            ).alias("sum_revenue"),
            (
                F.sum(money_cents(F.col("l_extendedprice") * F.col("l_discount"))) / 100.0
            ).alias("sum_disc"),
            (F.sum(money_cents(F.col("l_extendedprice") * F.col("l_tax"))) / 100.0).alias(
                "sum_tax"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )

    # Q2f: the "Goals" side — per-(custkey, date) order-header totals.
    goals = orders.groupBy(F.col("o_custkey").alias("custkey"), "date").agg(
        (F.sum(money_cents(F.col("o_totalprice"))) / 100.0).alias("goal_total"),
        F.count(F.lit(1)).alias("n_orders"),
    )

    return actual.join(goals, ["custkey", "date"], "inner").select(
        "custkey",
        "date",
        "c_mktsegment",
        F.date_format("date", "EEE").alias("weekday"),
        *MEASURES,
    )


def _request_filter(date_from: str, date_to: str, segment: str) -> Column:
    return F.col("date").between(
        F.lit(date_from).cast("date"), F.lit(date_to).cast("date")
    ) & (F.col("c_mktsegment") == segment)


def nutrition_report(
    spark: SparkSession,
    sf_dir: str,
    date_from: str = DATE_FROM,
    date_to: str = DATE_TO,
    segment: str = SEGMENT,
) -> DataFrame:
    """The report for one date range and segment, in (custkey, date)
    order, filtered from the per-version ``nutrition_daily`` snapshot."""
    daily = serving.snapshot(
        spark,
        ("nutrition_daily", sf_dir),
        sf_dir,
        INPUT_TABLES,
        lambda: nutrition_daily(spark, sf_dir).orderBy("custkey", "date"),
    )
    return daily.where(_request_filter(date_from, date_to, segment)).select(*COLUMNS)


def nutrition_plan(
    spark: SparkSession,
    sf_dir: str,
    date_from: str = DATE_FROM,
    date_to: str = DATE_TO,
    segment: str = SEGMENT,
) -> DataFrame:
    """The Catalyst plan of the nutrition report over the star."""
    return (
        nutrition_daily(spark, sf_dir)
        .where(_request_filter(date_from, date_to, segment))
        .select(*COLUMNS)
        .orderBy("custkey", "date")
    )


NUTRITION_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS date, o_totalprice
  FROM orders
  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '{DATE_FROM}' AND DATE '{DATE_TO}'
),
actual AS (
  SELECT o.o_custkey AS custkey, o.date,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base,
         SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0 AS sum_revenue,
         SUM(CAST(ROUND(l.l_extendedprice * l.l_discount * 100) AS BIGINT)) / 100.0 AS sum_disc,
         SUM(CAST(ROUND(l.l_extendedprice * l.l_tax * 100) AS BIGINT)) / 100.0 AS sum_tax,
         COUNT(*) AS n_items
  FROM lineitem l
  JOIN o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = '{SEGMENT}'
  GROUP BY 1, 2
),
goals AS (
  SELECT o_custkey AS custkey, date,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS goal_total,
         COUNT(*) AS n_orders
  FROM o GROUP BY 1, 2
)
SELECT a.custkey, a.date, strftime(a.date, '%a') AS weekday,
       a.sum_qty, a.sum_base, a.sum_revenue, a.sum_disc, a.sum_tax, a.n_items,
       g.goal_total, g.n_orders
FROM actual a JOIN goals g ON a.custkey = g.custkey AND a.date = g.date
ORDER BY a.custkey, a.date
"""
