"""OLAP-extension queries: as-of join, rollup and cube aggregates —
standard analytics-engine surface beyond the reference's own SQL
(SURVEY.md §2.9 notes the reference has no grouping sets/rollup/cube;
a complete engine still ships them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myfitnesspaw_spark.functions.numeric import epoch_us
from myfitnesspaw_spark.operators.temporal import asof_join_backward
from myfitnesspaw_spark.session import create_frame
from myfitnesspaw_spark.sources import load_table

# --- as-of join: each click ↦ most recent prior error of that user --------


def asof_click_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"), "value"
    )
    errors = events.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("err_id"), F.col("value").alias("err_value")
    )
    joined = asof_join_backward(
        clicks, errors, ["user_id"], "ts", ["err_id", "err_value"]
    )
    return joined.select(
        "click_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        "value",
        F.col("asof_err_id").alias("err_id"),
        F.col("asof_err_value").alias("err_value"),
    )


ASOF_CLICK_ERROR_ORACLE = """
WITH clicks AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS click_id, value
  FROM events WHERE event_type = 'click'
),
errors AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS err_id,
         value AS err_value
  FROM events WHERE event_type = 'error'
)
SELECT c.click_id, c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str, c.value,
       e.err_id, e.err_value
FROM clicks c
ASOF LEFT JOIN errors e ON c.user_id = e.user_id AND c.ts >= e.ts
"""


# --- rollup / cube --------------------------------------------------------


def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.grouping_id().alias("gid"),
        )
        .select("l_returnflag", "l_linestatus", "n_items", "sum_qty", "gid")
    )


ROLLUP_SALES_ORACLE = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().alias("gid"),
        )
        .select("o_orderstatus", "o_orderpriority", "n_orders", "gid")
    )


CUBE_SALES_ORACLE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --- exact median (interpolating percentile) ------------------------------


def median_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.percentile(F.col("o_totalprice"), F.lit(0.5)).alias("median_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


MEDIAN_ORDER_ORACLE = """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS median_price,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderstatus
"""


# --- RANGE-frame window: trailing 7-day spend per customer ----------------
# Q1k uses a ROWS running frame; the RANGE variant (value-based frame
# over a date axis, including days absent from the data) is the other
# standard frame and exercises rangeBetween.


def trailing_7d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from myfitnesspaw_spark.functions.numeric import money_cents

    orders = load_table(spark, sf_dir, "orders")
    per_day = (
        orders.groupBy(
            "o_custkey", F.col("o_orderdate").cast("date").alias("date")
        )
        .agg(F.sum(money_cents(F.col("o_totalprice"))).alias("day_cents"))
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_date(F.col("date")))
        .rangeBetween(-6, 0)
    )
    return per_day.select(
        "o_custkey",
        "date",
        "day_cents",
        F.sum("day_cents").over(w).alias("trailing_7d_cents"),
    )


TRAILING_7D_ORACLE = """
WITH per_day AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS date,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS day_cents
  FROM orders GROUP BY 1, 2
)
SELECT o_custkey, date, day_cents,
       CAST(SUM(day_cents) OVER (
         PARTITION BY o_custkey ORDER BY date
         RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS trailing_7d_cents
FROM per_day
"""


# --- window-function family: lag/lead + dense_rank + ntile ----------------


def order_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("date")
    )
    w = Window.partitionBy("o_custkey").orderBy("date", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "date",
        F.datediff("date", F.lag("date").over(w)).alias("days_since_prev"),
        F.dense_rank().over(w).alias("visit_rank"),
        F.ntile(4).over(w).alias("quartile"),
    )


ORDER_CADENCE_ORACLE = """
SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS date,
       CAST(date_diff('day',
            lag(CAST(o_orderdate AS DATE)) OVER w,
            CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev,
       CAST(dense_rank() OVER w AS BIGINT) AS visit_rank,
       CAST(ntile(4) OVER w AS INT) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
"""


# --- pivot: status × priority counts --------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # Explicit pivot values: skips the extra distinct-values job AND
    # pins the output schema (a scale requirement — an inferred pivot
    # over high-cardinality values is a driver OOM).
    return (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderstatus",
            *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(f"p{i + 1}") for i, p in enumerate(_PRIORITIES)],
        )
    )


PIVOT_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS p1,
       COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS p2,
       COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3,
       COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
       COUNT(*) FILTER (o_orderpriority = '5-LOW') AS p5
FROM orders GROUP BY o_orderstatus
"""


# --- multiset set ops: EXCEPT ALL / INTERSECT ALL -------------------------


def snapshot_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset difference and intersection between two order-payload
    snapshots (the reference's only set op is UNION ALL, Q2e; a
    complete engine ships the rest)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("date"),
    )
    v97 = orders.where(F.col("date") < "1998-01-01")
    v98 = orders.where(F.col("date") >= "1997-01-01")
    gone = v97.exceptAll(v98).withColumn("op", F.lit("gone"))
    kept = v97.intersectAll(v98).withColumn("op", F.lit("kept"))
    return gone.unionByName(kept)


SET_OPS_ORACLE = """
WITH o AS (
  SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS date FROM orders
),
v97 AS (SELECT * FROM o WHERE date < DATE '1998-01-01'),
v98 AS (SELECT * FROM o WHERE date >= DATE '1997-01-01')
SELECT *, 'gone' AS op FROM (SELECT * FROM v97 EXCEPT ALL SELECT * FROM v98)
UNION ALL
SELECT *, 'kept' AS op FROM (SELECT * FROM v97 INTERSECT ALL SELECT * FROM v98)
"""


# --- star joins: TPC-H-shaped multi-way joins -----------------------------
# The classic analytics-engine shape the reference never needed (its
# joins are 1-row-side equi joins, SURVEY.md §2.9): a fact table joined
# through a chain of small dimensions.  Scale notes in each docstring.


def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join: revenue per region × order year.

    lineitem (fact) joins orders (fact, shuffle join on orderkey), then
    customer → nation → region — each dimension side small enough that
    Catalyst/AQE picks broadcast hash joins, so the only shuffles are
    the lineitem⋈orders key exchange and the final aggregate.  Revenue
    sums exact integer cents (cross-engine float-sum determinism).
    """
    from myfitnesspaw_spark.functions.numeric import money_cents

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", money_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev_cents")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year(F.col("o_orderdate")).alias("o_year")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "o_year")
        .agg(
            (F.sum("rev_cents") / 100.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select("r_name", "o_year", "revenue", "n_items")
    )


REGIONAL_REVENUE_ORACLE = """
SELECT r.r_name, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0
         AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
"""


TOP_UNSHIPPED_K = 10
_SHIP_CUTOFF = "1995-03-15"


def top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: top-K highest-revenue orders not yet shipped by
    the cutoff, for one market segment.

    Predicate placement is the point at scale: the segment filter
    prunes customer BEFORE its broadcast, the date filters prune both
    scans (visible as PushedFilters), and the top-K is a sort-limit —
    Spark's TakeOrderedAndProject, never a full global sort.
    """
    from myfitnesspaw_spark.functions.numeric import money_cents

    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < _SHIP_CUTOFF)
        .select("o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("o_orderdate"))
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") > _SHIP_CUTOFF)
        .select(
            "l_orderkey",
            money_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev_cents"),
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg((F.sum("rev_cents") / 100.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(TOP_UNSHIPPED_K)
        .select("o_orderkey", "o_orderdate", "revenue")
    )


TOP_UNSHIPPED_ORACLE = f"""
SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
       SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0
         AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '{_SHIP_CUTOFF}'
  AND l.l_shipdate > TIMESTAMP '{_SHIP_CUTOFF} 00:00:00'
GROUP BY 1, 2
ORDER BY revenue DESC, o_orderkey ASC
LIMIT {TOP_UNSHIPPED_K}
"""


def brand_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped: revenue by part brand × supplier nation × year.

    Exercises the remaining dimension tables (part, supplier).  Both
    dims broadcast (a 100 TB deployment still broadcasts part/supplier
    slices after pruning; were they too big, AQE falls back to shuffle
    joins on the same plan).  One fact-side shuffle (orders key), one
    aggregate shuffle.
    """
    from myfitnesspaw_spark.functions.numeric import money_cents

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        money_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev_cents"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year(F.col("o_orderdate")).alias("o_year")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("p_brand", F.col("n_name").alias("supp_nation"), "o_year")
        .agg((F.sum("rev_cents") / 100.0).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        .select("p_brand", "supp_nation", "o_year", "revenue", "n_items")
    )


BRAND_NATION_REVENUE_ORACLE = """
SELECT p.p_brand, n.n_name AS supp_nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0
         AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
GROUP BY 1, 2, 3
"""


# --- quantile sketch with accuracy contract -------------------------------
# Same pattern as hll_distinct_users: percentile_approx's GK sketch is
# deterministic for fixed input, so the ±accuracy contract is asserted
# in-query and the oracle checks exact values + the contract bit.


def approx_quantiles_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile(F.col("l_extendedprice"), F.lit(0.5)).alias("exact_p50"),
        F.percentile_approx(F.col("l_extendedprice"), F.lit(0.5), F.lit(10_000)).alias("__ap50"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )
    # GK guarantees rank error ≤ n/accuracy; value-space check: within
    # 1% of the exact median relative to the column's range.
    return agg.select(
        "l_returnflag",
        "exact_p50",
        (
            F.abs(F.col("__ap50") - F.col("exact_p50"))
            <= 0.01 * (F.col("hi") - F.col("lo"))
        ).alias("approx_within_1pct_range"),
    )


APPROX_QUANTILES_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS exact_p50,
       TRUE AS approx_within_1pct_range
FROM lineitem GROUP BY 1
"""


# --- semi join with a non-equi residual (TPC-H Q4 shape) ------------------
# The reference's EXISTS-free SQL never needed a semi join (SURVEY.md
# §2.9); a complete engine ships it.  Shape: orders that have at least
# one late-shipping lineitem, counted per priority.


def late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join on the fact key with a cross-side residual
    predicate (l_shipdate > o_orderdate + 60 days).

    Scale: the semi join shuffles both sides on the order key once and
    keeps only the probe row — no fan-out, no dedup; the date-window
    filter prunes the orders scan (PushedFilters) before the exchange.
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1995-07-01")
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


LATE_SHIP_PRIORITY_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1995-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY 1
"""


# --- outer-join distribution (TPC-H Q13 shape) ----------------------------


def cust_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregate over a LEFT OUTER join: how many customers
    placed k orders (zero included — the outer join's point).

    Scale: one shuffle joins customer⋈orders on custkey (both large →
    shuffle hash/SMJ under AQE), the per-customer count combines
    map-side, and the k-distribution is a near-free second aggregate
    over |customers| rows.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("n_custs")
    )


CUST_ORDER_DIST_ORACLE = """
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY 1
)
SELECT CAST(c_count AS BIGINT) AS c_count, COUNT(*) AS n_custs
FROM per_cust GROUP BY 1
"""


# --- native relational unpivot (wide → long) ------------------------------
# N9 unpivots a MAP column (measures_unpivot); this is the other melt:
# fixed wide columns → (name, value) rows via the native unpivot
# operator — row-local, no shuffle, no explode fan-out beyond the 4×.


def lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    )
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )


LINEITEM_UNPIVOT_ORACLE = """
WITH s AS (
  SELECT l_orderkey, l_linenumber,
         l_quantity, l_extendedprice, l_discount, l_tax
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, measure, value
FROM s UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax))
"""


# --- window rank-distribution family --------------------------------------
# Completes the window surface beyond order_cadence (lag/dense_rank/
# ntile) and Q1d/Q1k (row_number, running sum): percent_rank,
# cume_dist, nth_value/first_value over an explicit full-partition
# ROWS frame.  The ORDER BY carries a unique tie-break so every
# rank-derived float is an exact small-integer ratio — bit-identical
# across engines.


def spend_rank_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from myfitnesspaw_spark.functions.numeric import money_cents

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(money_cents(F.col("o_totalprice"))).alias("spend_cents"))
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    j = spend.join(cust, spend.o_custkey == cust.c_custkey).select(
        "o_custkey", "c_nationkey", "spend_cents"
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("spend_cents").desc(), F.col("o_custkey").asc()
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return j.select(
        "o_custkey",
        "c_nationkey",
        "spend_cents",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.nth_value("spend_cents", 2).over(wf).alias("second_spend"),
        (F.col("spend_cents") == F.first("spend_cents").over(wf)).alias("is_top"),
    )


SPEND_RANK_DIST_ORACLE = """
WITH s AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents
  FROM orders GROUP BY 1
),
j AS (
  SELECT s.o_custkey, c.c_nationkey, s.spend_cents
  FROM s JOIN customer c ON s.o_custkey = c.c_custkey
)
SELECT o_custkey, c_nationkey, spend_cents,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       nth_value(spend_cents, 2) OVER wf AS second_spend,
       spend_cents = first_value(spend_cents) OVER wf AS is_top
FROM j
WINDOW w AS (PARTITION BY c_nationkey ORDER BY spend_cents DESC, o_custkey ASC),
       wf AS (PARTITION BY c_nationkey ORDER BY spend_cents DESC, o_custkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# --- salted join as a registered query ------------------------------------


def salted_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority through ``salted_join`` — the skew
    path exposed as a query so its result parity is oracle-checked,
    not just unit-tested.

    The salt spreads each (hot) order key across 8 build replicas;
    the plan pays one extra 8× replication of the build side in
    exchange for even task sizes when a key is pathologically hot.
    Result-identical to the plain join (operators/skew.py).
    """
    from myfitnesspaw_spark.functions.numeric import money_cents
    from myfitnesspaw_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        money_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev_cents"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(
        li, orders, on=["l_orderkey"], salt_from=["l_orderkey", "l_linenumber"]
    )
    return joined.groupBy("o_orderpriority").agg(
        (F.sum("rev_cents") / 100.0).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


SALTED_PRIORITY_REVENUE_ORACLE = """
SELECT o.o_orderpriority,
       SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0
         AS revenue,
       COUNT(*) AS n_items
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""


# --- argmin/argmax aggregates: OHLC-style rollup --------------------------
# Q1b's argmax-by-date already uses max_by through latest_by; this is
# the aggregate-family completion: min_by/max_by + min/max in ONE
# hash aggregate (vs the window-function route, which needs a sort).
# Keyed by the unique event_id so open/close are deterministic.


def hourly_event_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.min_by("value", "event_id").alias("open_value"),
            F.max_by("value", "event_id").alias("close_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


HOURLY_OHLC_ORACLE = """
WITH e AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type,
       arg_min(value, event_id) AS open_value,
       arg_max(value, event_id) AS close_value,
       MAX(value) AS high_value,
       MIN(value) AS low_value,
       COUNT(*) AS n_events
FROM e GROUP BY 1, 2
"""


# --- conditional aggregation share (TPC-H Q14 shape) ----------------------


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly promo-revenue share: CASE-gated SUM against the total in
    one aggregate pass over the lineitem⋈part broadcast join.

    The share divides two exact integer-cent sums (both < 2⁵³) as one
    IEEE division — bit-identical across engines.
    """
    from myfitnesspaw_spark.functions.numeric import money_cents

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.date_format(F.col("l_shipdate"), "yyyy-MM").alias("ship_month"),
        money_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev_cents"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    agg = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("ship_month")
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev_cents")).otherwise(F.lit(0))).alias("promo_cents"),
            F.sum("rev_cents").alias("total_cents"),
        )
    )
    return agg.select(
        "ship_month",
        "promo_cents",
        "total_cents",
        (F.col("promo_cents").cast("double") / F.col("total_cents").cast("double")).alias("promo_share"),
    )


PROMO_REVENUE_SHARE_ORACLE = """
WITH a AS (
  SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
         CAST(SUM(CASE WHEN p.p_type = 'PROMO'
              THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
              ELSE 0 END) AS BIGINT) AS promo_cents,
         CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
              AS BIGINT) AS total_cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
)
SELECT ship_month, promo_cents, total_cents,
       CAST(promo_cents AS DOUBLE) / CAST(total_cents AS DOUBLE) AS promo_share
FROM a
"""


# --- HAVING-filtered semi join (TPC-H Q18 shape) --------------------------

_BULK_QTY_THRESHOLD = 250


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total lineitem quantity exceeds a threshold, joined
    back to the customer — the aggregate-then-semi-join shape (Q18).

    Scale: the HAVING aggregate reduces lineitem to |orders| rows
    before any join; the qualifying key set is tiny (~1%) so its join
    back to orders broadcasts under AQE, and customer joins the
    (now small) result likewise.
    """
    li = load_table(spark, sf_dir, "lineitem")
    bulky = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .where(F.col("total_qty") > _BULK_QTY_THRESHOLD)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(bulky, orders.o_orderkey == bulky.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "total_qty")
    )


LARGE_VOLUME_CUSTOMERS_ORACLE = f"""
WITH bulky AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING SUM(CAST(l_quantity AS BIGINT)) > {_BULK_QTY_THRESHOLD}
)
SELECT c.c_name, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
       b.total_qty
FROM orders o
JOIN bulky b    ON o.o_orderkey = b.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


# --- SQL-API surface: grouping sets + correlated scalar subquery ----------
# The reference delegates its analytics to SQL strings
# (`/root/reference/myfitnesspaw/sql.py:196-267`); these two run
# through spark.sql the same way, exercising (a) explicit GROUPING
# SETS beyond rollup/cube and (b) Catalyst's correlated-scalar-
# subquery decorrelation (RewriteCorrelatedScalarSubquery) — the
# construct Q1b/Q1h/Q1i hand-decorrelate in plans/progress.py.


def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


GROUPING_SETS_ORACLE = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""


def correlated_latest_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery left AS WRITTEN — Catalyst
    decorrelates it into the aggregate+join the hand-built flagship
    uses, which the plan test asserts (no per-row re-execution
    survives at scale)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_cs")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_cs")
    return spark.sql(
        """
        SELECT o_orderkey, o_orderstatus,
               CAST((SELECT MAX(l.l_shipdate) FROM lineitem_cs l
                     WHERE l.l_orderkey = o.o_orderkey) AS DATE) AS latest_ship
        FROM orders_cs o
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        """
    )


CORRELATED_LATEST_SHIP_ORACLE = """
SELECT o_orderkey, o_orderstatus,
       CAST((SELECT MAX(l.l_shipdate) FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey) AS DATE) AS latest_ship
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
"""


# --- pure non-equi band join (broadcast nested loop) ----------------------
# The one join strategy the suite hadn't exercised: NO equi key at
# all.  A tiny literal band dimension broadcasts and every probe row
# scans the k bands — BroadcastNestedLoopJoin, the correct (and only
# sane) plan for k≪N; price_histogram shows the projection alternative
# when bands are uniform.

_PRICE_BANDS = [
    ("budget", 0.0, 905.0),
    ("mid", 905.0, 912.0),
    ("premium", 912.0, 950.0),
    ("luxury", 950.0, 10_000_000.0),
]


def price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = create_frame(spark, _PRICE_BANDS, "band string, lo double, hi double")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    return (
        part.join(
            F.broadcast(bands),
            (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("p_retailprice").alias("min_price"),
            F.max("p_retailprice").alias("max_price"),
        )
    )


_BANDS_SQL = " UNION ALL ".join(
    f"SELECT '{b}' AS band, {lo} AS lo, {hi} AS hi" for b, lo, hi in _PRICE_BANDS
)

PRICE_BAND_JOIN_ORACLE = f"""
WITH bands AS ({_BANDS_SQL})
SELECT b.band, COUNT(*) AS n_parts,
       MIN(p.p_retailprice) AS min_price,
       MAX(p.p_retailprice) AS max_price
FROM part p JOIN bands b
  ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
GROUP BY 1
"""


# --- distinct aggregation (Expand plan shape) -----------------------------
# COUNT(DISTINCT x) plans through Expand + two-phase aggregation — the
# one aggregate form the suite hadn't exercised (hll_distinct_users is
# the sketch path; this is the exact path).


def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.dayofmonth("ts")).alias("n_days_of_month"),
    )


DISTINCT_USERS_ORACLE = """
SELECT event_type, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT EXTRACT(day FROM CAST(ts AS TIMESTAMP))) AS n_days_of_month
FROM events GROUP BY 1
"""


# --- debounce_events ------------------------------------------------------
# Per-(user, type) debounce: drop an event when the previous event of
# the same key is within the throttle window — the dedup-adjacent
# stream hygiene op (distinct from sessionization: the gap test is
# against the previous KEPT-OR-NOT row, i.e. plain lag, which is the
# standard throttle — re-firing only after a quiet gap is the
# sessionize-first variant already covered by `sessionize_events`).
# One shuffle (the window on the key); timestamps compare as exact
# integer microseconds in both engines.

DEBOUNCE_SECONDS = 300


def debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    # Exact integer microseconds (epoch_us ↔ DuckDB epoch_us); a
    # seconds cast would truncate Spark-side but round DuckDB-side.
    gap = epoch_us(F.col("ts")) - F.lag(epoch_us(F.col("ts"))).over(w)
    return (
        events.withColumn("gap_us", gap)
        .where(
            F.col("gap_us").isNull()
            | (F.col("gap_us") >= DEBOUNCE_SECONDS * 1_000_000)
        )
        .select("event_id", "user_id", "event_type", "ts", "gap_us")
    )


DEBOUNCE_EVENTS_ORACLE = f"""
WITH g AS (
  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
         epoch_us(CAST(ts AS TIMESTAMP))
           - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT * FROM g
WHERE gap_us IS NULL OR gap_us >= {DEBOUNCE_SECONDS * 1_000_000}
"""


# --- lateral_topk_customers (SQL LATERAL surface) -------------------------
# Top-3 customers by balance per nation through a correlated LATERAL
# subquery — the per-group top-K as a user would WRITE it in SQL.
# Catalyst plans the lateral as a join + per-key ordered limit; the
# DataFrame twin (row_number window + filter, `topk_retention`) is
# the explicit form — both end in one shuffle on the group key.
# Ties broken by name so the result is a deterministic set.


def lateral_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_lt")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_lt")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation_lt n
        JOIN LATERAL (
          SELECT c_name, c_acctbal
          FROM customer_lt c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name
          LIMIT 3
        ) t
        """
    )


LATERAL_TOPK_ORACLE = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n
JOIN LATERAL (
  SELECT c_name, c_acctbal
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name
  LIMIT 3
) t ON TRUE
"""


# --- unreturned_orders (NOT EXISTS anti join) -----------------------------
# Orders where NO lineitem was returned — NOT EXISTS with a
# correlated predicate, the SQL spelling of the left ANTI join (the
# engine's D1 CDC diff primitive, operators/incremental.py).
# Catalyst rewrites it to an anti hash join on l_orderkey: one
# shuffle each side, never a per-row subquery.


def unreturned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_ne")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_ne")
    return spark.sql(
        """
        SELECT o.o_orderstatus, o.o_orderpriority, COUNT(*) AS n_orders
        FROM orders_ne o
        WHERE NOT EXISTS (
          SELECT 1 FROM lineitem_ne l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
        )
        GROUP BY o.o_orderstatus, o.o_orderpriority
        """
    )


UNRETURNED_ORDERS_ORACLE = """
SELECT o.o_orderstatus, o.o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
)
GROUP BY o.o_orderstatus, o.o_orderpriority
"""


# --- q7_volume_shipping (TPC-H Q7 shape) ----------------------------------

Q7_NATION_A = "NATION_9"
Q7_NATION_B = "NATION_10"


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped two-sided star: revenue between a nation PAIR
    (supplier nation ↔ customer nation, either direction) per ship
    year.  The fact row reaches BOTH dimension chains — supplier→
    nation and orders→customer→nation — so the plan holds two
    broadcast chains off one lineitem⋈orders shuffle; the pair filter
    is a disjunction over the two direction tuples.  Revenue in exact
    integer cents.  (Adapted: this testdata has no l_shipmode /
    returnflag variation on the pair — the join topology is the
    certified part.)
    """
    from myfitnesspaw_spark.functions.numeric import money_cents

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.year(F.col("l_shipdate")).alias("l_year"),
        money_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev_cents"
        ),
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == Q7_NATION_A) & (F.col("cust_nation") == Q7_NATION_B)
    ) | (
        (F.col("supp_nation") == Q7_NATION_B) & (F.col("cust_nation") == Q7_NATION_A)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            (F.sum("rev_cents") / 100.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q7_VOLUME_ORACLE = f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0
         AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o    ON l.l_orderkey = o.o_orderkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey
JOIN customer c  ON o.o_custkey = c.c_custkey
JOIN nation ns   ON s.s_nationkey = ns.n_nationkey
JOIN nation nc   ON c.c_nationkey = nc.n_nationkey
WHERE (ns.n_name = '{Q7_NATION_A}' AND nc.n_name = '{Q7_NATION_B}')
   OR (ns.n_name = '{Q7_NATION_B}' AND nc.n_name = '{Q7_NATION_A}')
GROUP BY 1, 2, 3
"""


# --- q8_market_share (TPC-H Q8 shape) -------------------------------------

Q8_NATION = "NATION_9"
Q8_REGION = "AMERICA"


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: within one region's customer
    market, the share of revenue supplied by one nation, per order
    year.  The share is a CASE-gated integer-cent sum over the total
    integer-cent sum in ONE aggregate pass (no join of two
    aggregations), then a single final float division.
    """
    from myfitnesspaw_spark.functions.numeric import money_cents

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        money_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev_cents"
        ),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year(F.col("o_orderdate")).alias("o_year")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    cust_nation = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust_nation), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .where(F.col("r_name") == Q8_REGION)
    )
    agg = joined.groupBy("o_year").agg(
        F.sum(
            F.when(F.col("supp_nation") == Q8_NATION, F.col("rev_cents")).otherwise(
                F.lit(0)
            )
        ).alias("nation_cents"),
        F.sum("rev_cents").alias("total_cents"),
    )
    # Market share in exact integer parts-per-million: ROUND(x, 6) on
    # the double quotient rounds HALF_UP on BigDecimal in Spark but in
    # floating point in DuckDB, so a boundary quotient can flip the
    # 6th decimal cross-engine (ADVICE r5).  DECIMAL(38,0) guards the
    # ×10⁶ against long overflow at 100 TB-era revenue totals; the
    # ppm quotient itself is ≤ 10⁶.
    return agg.select(
        "o_year",
        (F.col("nation_cents") / 100.0).alias("nation_revenue"),
        (F.col("total_cents") / 100.0).alias("total_revenue"),
        F.expr(
            "CAST((CAST(nation_cents AS DECIMAL(38,0)) * 1000000)"
            " DIV total_cents AS BIGINT)"
        ).alias("mkt_share_ppm"),
    )


Q8_MARKET_SHARE_ORACLE = f"""
WITH joined AS (
  SELECT year(o.o_orderdate) AS o_year,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
           AS rev_cents,
         ns.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o    ON l.l_orderkey = o.o_orderkey
  JOIN customer c  ON o.o_custkey = c.c_custkey
  JOIN supplier s  ON l.l_suppkey = s.s_suppkey
  JOIN nation nc   ON c.c_nationkey = nc.n_nationkey
  JOIN region r    ON nc.n_regionkey = r.r_regionkey
  JOIN nation ns   ON s.s_nationkey = ns.n_nationkey
  WHERE r.r_name = '{Q8_REGION}'
)
SELECT CAST(o_year AS BIGINT) AS o_year,
       SUM(CASE WHEN supp_nation = '{Q8_NATION}' THEN rev_cents ELSE 0 END) / 100.0
         AS nation_revenue,
       SUM(rev_cents) / 100.0 AS total_revenue,
       CAST(SUM(CASE WHEN supp_nation = '{Q8_NATION}' THEN rev_cents ELSE 0 END)
            * 1000000 // SUM(rev_cents) AS BIGINT) AS mkt_share_ppm
FROM joined GROUP BY 1
"""


# --- q17_small_quantity_revenue (TPC-H Q17 shape) -------------------------

Q17_BRAND = "Brand#23"


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped correlated-AVG filter: revenue of lineitems
    whose quantity is below 20% of the part's average quantity, for
    one brand.  The correlated subquery decorrelates into a per-part
    aggregate joined back; the 0.2·avg comparison is cross-multiplied
    into exact integers (5·qty·n < Σqty) so no float average touches
    the correctness gate.  (Adapted: brand filter instead of the
    absent p_container.)
    """
    from myfitnesspaw_spark.functions.numeric import money_cents

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        money_cents(F.col("l_extendedprice")).alias("price_cents"),
    )
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_brand") == Q17_BRAND
    ).select("p_partkey")
    brand_items = li.join(part, li.l_partkey == part.p_partkey)
    per_part = brand_items.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"), F.count(F.lit(1)).alias("n_items")
    )
    small = brand_items.join(per_part, "l_partkey").where(
        5 * F.col("qty") * F.col("n_items") < F.col("sum_qty")
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_small"),
        (F.sum("price_cents") / 100.0).alias("total_price"),
    )


Q17_SMALL_QTY_ORACLE = f"""
WITH brand_items AS (
  SELECT l.l_partkey, CAST(l.l_quantity AS BIGINT) AS qty,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS price_cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = '{Q17_BRAND}'
),
per_part AS (
  SELECT l_partkey, SUM(qty) AS sum_qty, COUNT(*) AS n_items
  FROM brand_items GROUP BY 1
)
SELECT COUNT(*) AS n_small, SUM(b.price_cents) / 100.0 AS total_price
FROM brand_items b JOIN per_part p USING (l_partkey)
WHERE 5 * b.qty * p.n_items < p.sum_qty
"""


# --- q19_disjunctive_brackets (TPC-H Q19 shape) ---------------------------


def q19_disjunctive_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive predicate brackets: revenue over
    three OR-ed (brand, size-range, quantity-range) brackets — the
    optimizer test is that the common ``l_partkey = p_partkey`` stays
    a hash-join key while the disjunction evaluates as a residual, and
    the part-side predicates still prune the build side.  (Adapted:
    size ranges instead of the absent p_container/shipmode.)
    """
    from myfitnesspaw_spark.functions.numeric import money_cents

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").alias("qty"),
        money_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev_cents"
        ),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    brackets = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("qty").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("qty").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & F.col("qty").between(20, 30))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(brackets)
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum("rev_cents") / 100.0).alias("revenue"),
        )
    )


Q19_BRACKETS_ORACLE = """
SELECT COUNT(*) AS n_items,
       SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0
         AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
"""


# --- q22_dormant_customers (TPC-H Q22 shape) ------------------------------


# --- q21_waiting_suppliers (TPC-H Q21 shape) ------------------------------
# The semi+anti EXISTS chain — the classic hard optimizer pattern the
# suite did not yet cover: for each candidate row, one correlated
# EXISTS over the same fact (another supplier participated in the
# order) and one correlated NOT EXISTS (no OTHER supplier was also
# late).  Planned as a hash LEFT SEMI then a hash LEFT ANTI, both
# keyed on the orderkey with the supplier-mismatch predicate riding
# in the join condition — never a per-row subquery re-scan.
# (Adapted: "late" = shipped > Q21_LATE_DAYS after the order date,
# since the slimmed schema carries no receipt/commit dates; orders
# filter o_orderstatus = 'F' as in the original.)

Q21_LATE_DAYS = 60
Q21_TOP = 20


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.col("l_shipdate").cast("date").alias("l_shipdate")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"))
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # Distinct (order, supplier) participation — and its late subset.
    part_pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), Q21_LATE_DAYS)).alias(
                "is_late"
            ),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("is_late").alias("is_late"))
    )
    late = part_pairs.where(F.col("is_late")).select("l_orderkey", "l_suppkey")
    others = part_pairs.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    )
    # EXISTS: some other supplier in the same order.
    waited = late.join(
        others,
        (F.col("l_orderkey") == F.col("o_key"))
        & (F.col("l_suppkey") != F.col("o_supp")),
        "left_semi",
    )
    # NOT EXISTS: no OTHER supplier was also late in that order.
    late_others = late.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    )
    sole_late = waited.join(
        late_others,
        (F.col("l_orderkey") == F.col("o_key"))
        & (F.col("l_suppkey") != F.col("o_supp")),
        "left_anti",
    )
    return (
        sole_late.join(supp, sole_late.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(Q21_TOP)
    )


Q21_WAITING_ORACLE = f"""
WITH pairs AS (
  SELECT l.l_orderkey, l.l_suppkey,
         MAX(CASE WHEN CAST(l.l_shipdate AS DATE)
                       > CAST(o.o_orderdate AS DATE) + INTERVAL {Q21_LATE_DAYS} DAY
                  THEN 1 ELSE 0 END) AS is_late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY 1, 2
),
late AS (SELECT l_orderkey, l_suppkey FROM pairs WHERE is_late = 1),
sole AS (
  SELECT l1.l_orderkey, l1.l_suppkey FROM late l1
  WHERE EXISTS (
    SELECT 1 FROM pairs p2
    WHERE p2.l_orderkey = l1.l_orderkey AND p2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM late l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
  )
)
SELECT s.s_name, COUNT(*) AS numwait
FROM sole JOIN supplier s ON sole.l_suppkey = s.s_suppkey
GROUP BY 1
ORDER BY numwait DESC, s_name ASC
LIMIT {Q21_TOP}
"""


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: customers with above-average positive account
    balance and NO orders, counted per nation — a scalar subquery (the
    global average, broadcast as a 1-row aggregate) plus a LEFT ANTI
    join against orders.  Balance sums in exact integer cents.
    (Adapted: grouped by nation key instead of the absent phone
    country code.)
    """
    from myfitnesspaw_spark.functions.numeric import money_cents

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", money_cents(F.col("c_acctbal")).alias("bal_cents")
    )
    avg_bal = cust.where(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    # above-average test cross-multiplied into exact integers.
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(
        F.col("bal_cents") * F.col("n") > F.col("s")
    )
    urgent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    dormant = rich.join(
        urgent, rich.c_custkey == urgent.o_custkey, "left_anti"
    )
    return dormant.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_custs"),
        (F.sum("bal_cents") / 100.0).alias("total_acctbal"),
    )


Q22_DORMANT_ORACLE = """
WITH cust AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
),
avg_bal AS (
  SELECT SUM(bal_cents) AS s, COUNT(*) AS n FROM cust WHERE bal_cents > 0
),
rich AS (
  SELECT c.* FROM cust c CROSS JOIN avg_bal a WHERE c.bal_cents * a.n > a.s
)
SELECT r.c_nationkey, COUNT(*) AS n_custs,
       SUM(r.bal_cents) / 100.0 AS total_acctbal
FROM rich r
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = r.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY 1
"""
