"""Stream-stream interval join (Structured Streaming).

Completes the streaming surface (SURVEY §2.9): two live streams joined
on key + event-time interval.  The reference handles correlated
event-time lookups as batch correlated subqueries
(`/root/reference/myfitnesspaw/sql.py:222-228`); the streaming-native
form is the watermarked stream-stream join — Spark buffers each side
in the state store and the JOIN'S TIME BOUND (not the data volume)
caps how much state survives: with both sides watermarked at W and the
join window D, a row is dropped from state once the other side's
watermark passes its timestamp + D.  That bound is the difference
between O(window) and O(stream) memory at 100 TB/day.

With the backlog drained in one availableNow trigger the inner-join
result equals the batch interval join, which is exactly the DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myfitnesspaw_spark.functions.numeric import epoch_us
from myfitnesspaw_spark.streaming.merge import drain
from myfitnesspaw_spark.streaming.rollup import read_events_stream


def stream_stream_click_error(
    spark: SparkSession,
    sf_dir: str,
    window_minutes: int = 5,
    watermark: str = "30 minutes",
    sink_name: str = "stream_stream_click_error_sink",
) -> DataFrame:
    """Errors within ``window_minutes`` AFTER a click by the same user,
    joined stream-to-stream: click state is held only until the error
    stream's watermark passes click_ts + window, error state until the
    click watermark passes error_ts."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    errors = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user_id"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", watermark)
    )
    joined = clicks.join(
        errors,
        (F.col("user_id") == F.col("e_user_id"))
        & (F.col("error_ts") > F.col("click_ts"))
        & (
            F.col("error_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {window_minutes} MINUTES")
        ),
        "inner",
    )
    return drain(joined, sink_name).select(
        "click_id",
        "user_id",
        "error_id",
        (epoch_us(F.col("error_ts")) - epoch_us(F.col("click_ts"))).alias("gap_us"),
    )


def stream_stream_click_error_outer(
    spark: SparkSession,
    sf_dir: str,
    window_minutes: int = 5,
    watermark: str = "30 minutes",
    sink_name: str = "stream_stream_click_error_outer_sink",
) -> DataFrame:
    """LEFT OUTER form of :func:`stream_stream_click_error`: every
    click emits, with NULL error columns if no error followed within
    the window.

    The semantics worth certifying: an unmatched click's NULL row is
    emitted only when the join KNOWS no match can arrive — i.e. when
    the watermark passes ``click_ts + window``.  Spark's no-data
    micro-batches advance the watermark to (max event time − delay)
    after the backlog drains, so clicks later than that horizon stay
    buffered in state and never emit, by design — bounded-state outer
    joins cannot claim completeness for the stream's tail.  The oracle
    encodes exactly that: a batch LEFT JOIN whose unmatched rows are
    filtered to ``click_ts + window < max(ts) − delay``.
    """
    clicks = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    errors = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user_id"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", watermark)
    )
    joined = clicks.join(
        errors,
        (F.col("user_id") == F.col("e_user_id"))
        & (F.col("error_ts") > F.col("click_ts"))
        & (
            F.col("error_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {window_minutes} MINUTES")
        ),
        "leftOuter",
    )
    return drain(joined, sink_name).select(
        "click_id",
        "user_id",
        "error_id",
        (epoch_us(F.col("error_ts")) - epoch_us(F.col("click_ts"))).alias("gap_us"),
    )
