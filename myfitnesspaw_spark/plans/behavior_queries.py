"""Behavioral analytics over the events stream: strict-order funnel
conversion and cohort retention.

Reference relation: the reference's analytics are per-user
time-ordered progress tracking (`/root/reference/myfitnesspaw/
sql.py:196-235` — argmax-by-date, running windows over a user's
day sequence).  Funnel and cohort analysis are the same shape
generalized to many users: per-entity ordered-event aggregation
followed by a population rollup — the queries a product-analytics
user of such a pipeline runs daily.

Scale shape (both queries):
- Per-user stage extraction is a filtered aggregate on ``user_id`` —
  one shuffle on the natural key; the three funnel stages reuse the
  same key, so on a warehouse bucketed by ``user_id``
  (sinks/warehouse.py) all of it is shuffle-free.
- Stage→stage joins carry ONE ROW PER USER (user-cardinality, not
  event-cardinality): at 100 TB of events the join sides are the
  distinct-user table, orders of magnitude smaller than the scan.
- The final outputs are stage- / (cohort × offset)-cardinality —
  tiny — produced by map-side-combined counts, so nothing
  event-sized ever reaches the driver.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myfitnesspaw_spark.functions.numeric import epoch_us
from myfitnesspaw_spark.sources import load_table

# --- funnel_conversion ----------------------------------------------------
# Strict-order funnel view → click → purchase: a user converts a stage
# only with an event STRICTLY AFTER their entry into the previous
# stage (first qualifying timestamp carries forward).  This is the
# sequenced-funnel semantic (not mere presence of all three types):
# min-ts per stage, each conditioned on the previous stage's min-ts.
#
# Timestamps compare at exact microsecond precision on both sides:
# load_table truncates parquet nanos to µs and DuckDB's TIMESTAMP is
# µs natively, so the strictly-greater test agrees bit-for-bit.

FUNNEL_STAGES = ["view", "click", "purchase"]


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    stage_users: list[DataFrame] = []
    prev: DataFrame | None = None  # (user_id, t_prev)
    for stage in FUNNEL_STAGES:
        cur = events.where(F.col("event_type") == stage)
        if prev is not None:
            cur = cur.join(prev, "user_id").where(F.col("ts") > F.col("t_prev"))
        entered = cur.groupBy("user_id").agg(F.min("ts").alias("t_prev"))
        stage_users.append(entered)
        prev = entered

    counts = [
        df.agg(
            F.lit(i + 1).cast("long").alias("stage_no"),
            F.lit(stage).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        )
        for i, (stage, df) in enumerate(zip(FUNNEL_STAGES, stage_users))
    ]
    return reduce(lambda a, b: a.unionByName(b), counts)


FUNNEL_CONVERSION_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_prev FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_prev
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t_prev
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_prev
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t_prev
  GROUP BY e.user_id
)
SELECT CAST(1 AS BIGINT) AS stage_no, 'view' AS stage, COUNT(*) AS n_users FROM v
UNION ALL
SELECT 2, 'click', COUNT(*) FROM c
UNION ALL
SELECT 3, 'purchase', COUNT(*) FROM p
"""


# --- cohort_retention -----------------------------------------------------
# Classic retention triangle: cohort = a user's first-ever event date
# (daily cohorts here; the testdata spans one month), cell value =
# distinct users of that cohort active `week_offset` weeks later.
# Two shuffles total: the per-user min-date aggregate and the final
# (cohort × offset) distinct-count — both on keys the data would be
# bucketed by.  week_offset is non-negative, so integer DIV == floor
# in both engines.


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    cohorts = events.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    return (
        events.join(cohorts, "user_id")
        .select(
            "user_id",
            "cohort_date",
            F.expr("CAST(datediff(d, cohort_date) DIV 7 AS BIGINT)").alias(
                "week_offset"
            ),
        )
        .groupBy("cohort_date", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


COHORT_RETENTION_ORACLE = """
WITH e AS (
  SELECT user_id, CAST(ts AS DATE) AS d FROM events
),
cohorts AS (
  SELECT user_id, MIN(d) AS cohort_date FROM e GROUP BY user_id
)
SELECT c.cohort_date,
       CAST(date_diff('day', c.cohort_date, e.d) // 7 AS BIGINT) AS week_offset,
       COUNT(DISTINCT e.user_id) AS n_active_users
FROM e JOIN cohorts c USING (user_id)
GROUP BY 1, 2
"""


# --- activity_streaks (gaps and islands) ----------------------------------
# Longest consecutive-day activity streak per user — the generalized
# form of the reference's per-day progress tracking (a missed day
# breaks the chain, `/root/reference/myfitnesspaw/sql.py:234`'s
# no-meals-logged NULL days).  Island id = date − row_number days: a
# run of consecutive dates maps to one constant anchor date.  Two
# window passes + two aggregates, all partitioned by user_id (one
# shuffle on the natural key); intermediate cardinality is distinct
# (user, day), final is user-cardinality.


def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    days = events.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = islands.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.sum("streak_len").alias("n_active_days"),
    )


ACTIVITY_STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
islands AS (
  SELECT user_id, d,
         d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER)
           AS anchor
  FROM days
),
streaks AS (
  SELECT user_id, anchor, COUNT(*) AS streak_len
  FROM islands GROUP BY user_id, anchor
)
SELECT user_id, MAX(streak_len) AS longest_streak,
       COUNT(*) AS n_streaks,
       CAST(SUM(streak_len) AS BIGINT) AS n_active_days
FROM streaks GROUP BY user_id
"""


# --- time_weighted_value --------------------------------------------------
# Exact time-weighted average of the `value` gauge per user: each
# reading holds until the next one (step interpolation), TWA =
# Σ value_i · Δt_i / Σ Δt_i over [first, last].  The sensor/metrics
# rollup semantic — a plain AVG over-weights bursts.
#
# Determinism: double SUMs are order-dependent, so the weighted sum
# runs in exact integers — cents(value) · Δt_µs is a BIGINT product
# (≲1e16 per row here; at larger spans scale Δt to ms) summed
# exactly; the final two float ops (int ÷ int, ÷ 100) are identical
# IEEE operations in both engines.  One window pass + one aggregate,
# both keyed on user_id.


def time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "value")
    stepped = events.select(
        "user_id",
        (F.round(F.col("value") * 100).cast("long")).alias("cents"),
        epoch_us(F.col("ts")).alias("t_us"),
        F.lead(epoch_us(F.col("ts"))).over(w).alias("t_next_us"),
    ).where(F.col("t_next_us").isNotNull())
    return stepped.groupBy("user_id").agg(
        (
            (
                F.sum(F.col("cents") * (F.col("t_next_us") - F.col("t_us")))
                / F.sum(F.col("t_next_us") - F.col("t_us"))
            )
            / F.lit(100.0)
        ).alias("twa_value"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


TIME_WEIGHTED_VALUE_ORACLE = """
WITH stepped AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
         LEAD(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), value
         ) AS t_next_us
  FROM events
)
SELECT user_id,
       (CAST(SUM(cents * (t_next_us - t_us)) AS BIGINT)
          / CAST(SUM(t_next_us - t_us) AS BIGINT)) / 100.0
         AS twa_value,
       COUNT(*) AS n_intervals
FROM stepped
WHERE t_next_us IS NOT NULL
GROUP BY user_id
"""


# --- forward_fill_gauge ---------------------------------------------------
# Gap-filled daily gauge: the per-user last purchase `value` of each
# day, carried forward over days with no purchase (step
# interpolation over a complete date spine) — the reference's
# date-spine + "no data logged that day" semantics (`/root/reference/
# myfitnesspaw/sql.py:234`) turned into the standard time-series
# gap-fill.  Days before a user's first purchase stay NULL.
#
# Scale shape: daily-last is one aggregate on (user, day) with
# max_by (no window over raw events); the spine cross join is
# |users| × |days| — output-cardinality, built from two tiny sides —
# and the carry-forward window runs over that small grid partitioned
# by user, never over the event scan.


def forward_fill_gauge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase")
    daily_last = purchases.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(F.max_by("value", "event_id").alias("day_last"))

    bounds = events.agg(
        F.to_date(F.min("ts")).alias("d0"), F.to_date(F.max("ts")).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("d")
    )
    users = events.select("user_id").distinct()

    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        users.crossJoin(spine)
        .join(daily_last, ["user_id", "d"], "left")
        .select(
            "user_id",
            "d",
            F.last("day_last", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


FORWARD_FILL_ORACLE = """
WITH purchases AS (
  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
         arg_max(value, event_id) AS day_last
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
),
bounds AS (
  SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events
),
spine AS (
  SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
  FROM bounds
),
users AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id, s.d,
       LAST_VALUE(p.day_last IGNORE NULLS) OVER (
         PARTITION BY u.user_id ORDER BY s.d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled_value
FROM users u CROSS JOIN spine s
LEFT JOIN purchases p ON p.user_id = u.user_id AND p.d = s.d
"""


# --- daily_type_share (ratio-to-report window) ----------------------------
# Each event type's share of a day's traffic: count per (day, type),
# then a windowed total over the day — the ratio-to-report pattern
# (value ÷ partition total without a self-join).  The share is ONE
# float division of two exact integers, so it hashes identically in
# both engines.  The window runs on (day, type)-cardinality
# aggregates, not events; both shuffles key on the day.


def daily_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy(
        F.to_date("ts").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    day_total = Window.partitionBy("d")
    return counts.select(
        "d",
        "event_type",
        "n_events",
        (F.col("n_events") / F.sum("n_events").over(day_total)).alias("day_share"),
    )


DAILY_TYPE_SHARE_ORACLE = """
WITH counts AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, event_type,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT d, event_type, n_events,
       n_events / CAST(SUM(n_events) OVER (PARTITION BY d) AS BIGINT)
         AS day_share
FROM counts
"""


# --- daily_event_sequence (ordered string aggregation) --------------------
# Each user-day's events as one ordered "view>click>purchase" trace —
# the session-trace extraction a behavior-mining / LLM-agent-log
# pipeline runs to turn an event log into sequence training data.
# Spark has no ORDER BY inside an aggregate; the deterministic
# equivalent is collect_list of (sort-key, value) structs +
# array_sort + transform — array_sort on structs orders by fields
# left-to-right, and (ts, event_id) is a total order, so the trace is
# reproducible run-to-run (collect_list alone is partition-order
# dependent).  One shuffle on (user, day); the array stays
# day-per-user sized.


def daily_event_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("seq"),
        F.count(F.lit(1)).alias("n_events"),
    )


DAILY_EVENT_SEQUENCE_ORACLE = """
SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       string_agg(event_type, '>' ORDER BY ts, event_id) AS seq,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
"""


# --- recursive_user_spine (WITH RECURSIVE, Spark 4 SQL surface) -----------
# Per-user day spine generated by RECURSION: each user's series runs
# from their own first to last active day (data-dependent depth — the
# shape recursion exists for; a global `sequence()` spine like
# forward_fill_gauge's would over-generate per user).  Spark 4 accepts
# only UNION ALL in recursive CTEs, so the pattern is the bounded
# ladder (`WHERE d < last_d`) — acyclic by construction, depth = the
# longest per-user date span (29 days in the testdata).  The query
# carries its own depth ceiling (`MAX RECURSION LEVEL 1000`), so a
# wider-span dataset fails on semantics, not on the 100-level session
# default, and no session conf is touched.  The DuckDB oracle runs the
# IDENTICAL recursive CTE — both engines terminate on the same bound.
# Scale shape: the seed aggregate is one shuffle; each recursion level
# is a narrow projection of the previous level (no joins inside the
# loop); the final count join shuffles on (user_id, day).

def recursive_user_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        WITH RECURSIVE spine (user_id, day, last_d) MAX RECURSION LEVEL 1000 AS (
          SELECT user_id, MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE))
          FROM {events} GROUP BY user_id
          UNION ALL
          SELECT user_id, DATE_ADD(day, 1), last_d FROM spine WHERE day < last_d
        ),
        daily AS (
          SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
          FROM {events} GROUP BY 1, 2
        )
        SELECT s.user_id, s.day, COALESCE(d.n, 0) AS n_events
        FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
        """,
        events=load_table(spark, sf_dir, "events"),
    )


RECURSIVE_USER_SPINE_ORACLE = """
WITH RECURSIVE spine (user_id, day, last_d) AS (
  SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)),
         MAX(CAST(CAST(ts AS TIMESTAMP) AS DATE))
  FROM events GROUP BY user_id
  UNION ALL
  SELECT user_id, day + INTERVAL 1 DAY, last_d FROM spine WHERE day < last_d
),
daily AS (
  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT s.user_id, CAST(s.day AS DATE) AS day, COALESCE(d.n, 0) AS n_events
FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
"""
