"""The reference's ETL flow, end-to-end (SURVEY.md §3.1), as named
oracle-checked queries.

Pipeline (mirroring `/root/reference/myfitnesspaw/flows.py:17-124`):

1. requests = users × date window        (D2 spine × fan-out, flows.py:50-55)
2. fetch via mapInPandas fake client     (S1/S2, _utils.py:81-129)
3. serialize days → bronze JSON          (E1, tasks.py:365-380)
4. CDC diff vs stored bronze             (D1, tasks.py:383-405) — the
   stored side is the same fetch for the pre-cut window, with a
   simulated stale value for every 10th user so the diff carries
   CHANGED rows, not just new ones
5. deserialize the diff                  (E2, tasks.py:408-428)
6. normalize → silver                    (N4/N5/N6 meals+entries,
   N7/N8 positional exercises, tasks.py:497-629)

Because the fake client is closed-form integer arithmetic on
(user_id, day-of-month), each silver table is recomputable in pure
SQL — the DuckDB oracle re-derives what the whole fetch → bronze →
diff → normalize chain must produce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myfitnesspaw_spark.operators import date_spine, diff_new_or_changed
from myfitnesspaw_spark.sources import load_table
from myfitnesspaw_spark.sources.mfp_source import (
    DAY_SCHEMA,
    fetch_days,
    serialize_days,
)

_WINDOW_FROM = "2024-01-01"
_WINDOW_TO = "2024-01-28"
_CUT = "2024-01-22"  # re-scrape window ≙ the reference's 6-day lookback
_STALE_USER_MOD = 10


def _diffed_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steps 1-5: fetch both snapshots, diff bronze, deserialize."""
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    spine = date_spine(spark, _WINDOW_FROM, _WINDOW_TO)
    requests = users.crossJoin(spine)

    fetched = fetch_days(requests, fetch_partitions=spark.sparkContext.defaultParallelism)
    extracted = serialize_days(fetched)

    stored_days = fetch_days(requests.where(F.col("date") < _CUT))
    # Simulated staleness: every 10th user's stored water is off by
    # one, so those days resurface as CHANGED in the diff.
    stale = stored_days.withColumn(
        "water",
        F.when(F.col("user_id") % _STALE_USER_MOD == 0, F.col("water") + 1).otherwise(
            F.col("water")
        ),
    )
    stored = serialize_days(stale)

    diff = diff_new_or_changed(extracted, stored, ["user_id", "date", "rawdaydata"])
    payload_schema = DAY_SCHEMA["meals"].dataType, DAY_SCHEMA["exercises"].dataType
    parsed = diff.select(
        "user_id",
        "date",
        F.from_json(
            "rawdaydata",
            "struct<meals:{},exercises:{},water:bigint>".format(
                payload_schema[0].simpleString(), payload_schema[1].simpleString()
            ),
        ).alias("day"),
    )
    return parsed.select("user_id", "date", "day.meals", "day.exercises", "day.water")


# Oracle-side request window: days the diff must contain.
_ORACLE_REQ = f"""
users AS (SELECT DISTINCT user_id FROM events),
days AS (
  SELECT CAST(unnest(generate_series(DATE '{_WINDOW_FROM}', DATE '{_WINDOW_TO}',
                                     INTERVAL 1 DAY)) AS DATE) AS date
),
req AS (
  SELECT user_id, date, EXTRACT(day FROM date) AS dom
  FROM users CROSS JOIN days
  WHERE date >= DATE '{_CUT}' OR user_id % {_STALE_USER_MOD} = 0
)
"""


def etl_meals_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4/N5: explode diffed days into the Meals silver table."""
    days = _diffed_days(spark, sf_dir)
    meals = days.select("user_id", "date", F.explode("meals").alias("meal"))
    return meals.select(
        "user_id", "date", F.col("meal.name").alias("name"),
        F.col("meal.calories").alias("calories"),
    )


ETL_MEALS_ORACLE = f"""
WITH {_ORACLE_REQ}
SELECT user_id, date,
       CASE i WHEN 0 THEN 'breakfast' WHEN 1 THEN 'lunch' ELSE 'dinner' END AS name,
       CAST((user_id * 31 + dom * 7 + i * 13) % 900 + 100 AS BIGINT) AS calories
FROM req,
     LATERAL (SELECT unnest(generate_series(0, CAST((user_id + dom) % 3 AS INT) - 1)) AS i)
"""


def etl_mealentries_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N6: two-level explode into the MealEntries silver table."""
    days = _diffed_days(spark, sf_dir)
    meals = days.select("user_id", "date", F.explode("meals").alias("meal"))
    entries = meals.select(
        "user_id", "date", F.col("meal.name").alias("meal_name"),
        F.explode("meal.entries").alias("e"),
    )
    return entries.select(
        "user_id", "date", "meal_name",
        F.col("e.short_name").alias("short_name"),
        F.col("e.quantity").alias("quantity"),
    )


ETL_MEALENTRIES_ORACLE = f"""
WITH {_ORACLE_REQ}
SELECT user_id, date,
       CASE i WHEN 0 THEN 'breakfast' WHEN 1 THEN 'lunch' ELSE 'dinner' END AS meal_name,
       'item' || CAST(j AS VARCHAR) AS short_name,
       CAST((user_id + dom + i + j) % 5 + 1 AS BIGINT) AS quantity
FROM req,
     LATERAL (SELECT unnest(generate_series(0, CAST((user_id + dom) % 3 AS INT) - 1)) AS i),
     LATERAL (SELECT unnest(generate_series(0, CAST((user_id + dom + i) % 2 AS INT))) AS j)
"""


def etl_exercises_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N7/N8: POSITIONAL exercise extraction — ``exercises[0]`` is
    cardio, ``exercises[1]`` strength (`tasks.py:600,628`)."""
    days = _diffed_days(spark, sf_dir)
    # One pass (a union of two selects would recompute the fetch+diff
    # lineage per branch): explode both positional slots with labels.
    both = days.select(
        "user_id", "date",
        F.explode(
            F.array(
                F.struct(F.lit("cardio").alias("kind"), F.element_at("exercises", 1).alias("ex")),
                F.struct(F.lit("strength").alias("kind"), F.element_at("exercises", 2).alias("ex")),
            )
        ).alias("k"),
    )
    return both.select(
        "user_id", "date", F.col("k.kind").alias("kind"),
        F.col("k.ex.name").alias("name"),
        F.col("k.ex.minutes").alias("minutes"),
    )


ETL_EXERCISES_ORACLE = f"""
WITH {_ORACLE_REQ}
SELECT user_id, date, 'cardio' AS kind, 'cardio' AS name,
       CAST((user_id + dom) % 60 AS BIGINT) AS minutes
FROM req
UNION ALL
SELECT user_id, date, 'strength' AS kind, 'strength' AS name,
       CAST((user_id * 2 + dom) % 45 AS BIGINT) AS minutes
FROM req
"""


# --- custom Python DataSource (Spark 4): spark.read.format("mfp_api") -----

_DS_USERS = 50
_DS_FROM = "2024-02-01"
_DS_TO = "2024-02-14"


def mfp_api_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 as a first-class source: option-driven, partition-parallel
    ``spark.read.format("mfp_api")`` (sources/mfp_datasource.py)."""
    from myfitnesspaw_spark.sources import mfp_datasource

    # Not on the caller: Spark 4.1 refuses to register a name on any session
    # while the ACTIVE one holds it, which would break mfp_api_stream_rollup.
    spark = spark.newSession()
    mfp_datasource.register(spark)
    return (
        spark.read.format("mfp_api")
        .option("users", str(_DS_USERS))
        .option("from", _DS_FROM)
        .option("to", _DS_TO)
        .load()
    )


MFP_API_DS_ORACLE = f"""
WITH users AS (SELECT unnest(generate_series(0, {_DS_USERS} - 1)) AS user_id),
days AS (
  SELECT CAST(unnest(generate_series(DATE '{_DS_FROM}', DATE '{_DS_TO}',
                                     INTERVAL 1 DAY)) AS DATE) AS date
),
req AS (
  SELECT user_id, date, EXTRACT(day FROM date) AS dom
  FROM users CROSS JOIN days
)
SELECT CAST(user_id AS BIGINT) AS user_id, date,
       CAST((user_id + dom) % 3 AS INT) AS n_meals,
       CAST(COALESCE((
         SELECT SUM((user_id * 31 + dom * 7 + i * 13) % 900 + 100)
         FROM (SELECT unnest(generate_series(0, CAST((user_id + dom) % 3 AS INT) - 1)) AS i)
       ), 0) AS BIGINT) AS total_calories,
       CAST((user_id + dom) % 60 AS BIGINT) AS cardio_minutes,
       CAST((user_id * 2 + dom) % 45 AS BIGINT) AS strength_minutes,
       CAST((user_id + dom) % 5 AS BIGINT) AS water
FROM req
"""


def mfp_api_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 as a STREAMING source: the same custom data source read with
    ``spark.readStream`` (SimpleDataSourceStreamReader — date offsets,
    deterministic replay), rolled up per user and drained with
    availableNow through ``drain``, all in a ``stream_session`` child.
    Final state must equal the batch read's rollup, which is the
    oracle."""
    from pyspark.sql import functions as F

    from myfitnesspaw_spark.sources import mfp_datasource
    from myfitnesspaw_spark.streaming.merge import drain
    from myfitnesspaw_spark.streaming.rollup import stream_session

    spark = stream_session(spark)
    mfp_datasource.register(spark)
    stream = (
        spark.readStream.format("mfp_api")
        .option("users", str(_DS_USERS))
        .option("from", _DS_FROM)
        .option("to", _DS_TO)
        .load()
    )
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("total_calories").alias("total_calories"),
        F.sum("cardio_minutes").alias("cardio_minutes"),
        F.sum("water").alias("water"),
    )
    return drain(
        agg, "mfp_api_stream_rollup_sink", "complete", merge=lambda _, batch: batch
    )


MFP_API_STREAM_ORACLE = f"""
SELECT user_id,
       COUNT(*) AS n_days,
       CAST(SUM(total_calories) AS BIGINT) AS total_calories,
       CAST(SUM(cardio_minutes) AS BIGINT) AS cardio_minutes,
       CAST(SUM(water) AS BIGINT) AS water
FROM ({MFP_API_DS_ORACLE}) base
GROUP BY 1
"""
