"""Gap-based sessionization — the canonical event-stream stateful
operator, in both batch (window-function) and streaming
(applyInPandasWithState) form.

Batch shape: per user, a session starts when the gap to the previous
event exceeds ``gap``; session ids are a running sum of start flags.
Two window passes over the same ``(user_id → ts)`` partitioning — one
shuffle total, then the session aggregate reuses that partitioning for
its groupBy, so Catalyst plans a single exchange at 100 TB.

Streaming shape: ``applyInPandasWithState`` keyed by user with a
processing-timeout closing idle sessions — the state size is one open
session per user, bounded, watermark-safe.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from myfitnesspaw_spark.functions.numeric import epoch_us, money_cents, ntz_from_us
from myfitnesspaw_spark.streaming.merge import drain

DEFAULT_GAP_MIN = 30


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = DEFAULT_GAP_MIN,
) -> DataFrame:
    """Assign gap-based sessions and aggregate them.

    Returns one row per (user, session): ``session_no`` (1-based per
    user, ordered by time), ``n_events``, ``start_ts``/``end_ts``
    (µs-formatted strings for oracle parity), ``value_cents``.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    w = Window.partitionBy(user_col).orderBy(ts_col)
    us = epoch_us(F.col(ts_col))
    is_new = F.when(
        us - F.lag(us).over(w) > gap_us, F.lit(1)
    ).otherwise(F.lit(0))
    # First event of a user: lag is NULL → otherwise-branch 0; the
    # running sum then starts at 0, so session_no = sum + 1.
    flagged = events.withColumn("__new", is_new)
    sess = flagged.withColumn(
        "session_no",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)) + 1,
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        sess.groupBy(user_col, "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min(ts_col), fmt).alias("start_ts"),
            F.date_format(F.max(ts_col), fmt).alias("end_ts"),
            F.sum(money_cents(F.col("value"))).alias("value_cents"),
        )
    )


def session_window_agg(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = DEFAULT_GAP_MIN,
) -> DataFrame:
    """Gap sessionization via Spark's NATIVE ``session_window``
    aggregate — the built-in the hand-rolled window version maps onto,
    and the form a Structured Streaming job would use directly.

    Merge rule is strict: an event extends a session iff it is
    ``< gap`` after the previous event (our ``sessionize`` uses ≤; a
    boundary-exact event differs — documented, both oracle-checked).
    One shuffle on the user key; no per-partition history sort beyond
    the aggregation's own.
    """
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        events.groupBy(
            F.session_window(F.col(ts_col), f"{gap_minutes} minutes").alias("sw"),
            user_col,
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min(ts_col), fmt).alias("start_ts"),
            F.date_format(F.max(ts_col), fmt).alias("end_ts"),
            F.sum(money_cents(F.col("value"))).alias("value_cents"),
        )
        .select(user_col, "n_events", "start_ts", "end_ts", "value_cents")
    )


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)

_SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("value_cents", T.LongType()),
        T.StructField("closed", T.BooleanType()),
    ]
)


def _session_state_fn(gap_us: int):
    def fn(
        key: tuple[Any, ...], batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """One open session per user in state; a session emits when a
        later event supersedes it (closed-session semantics)."""
        (user_id,) = key
        rows = pd.concat(list(batches)).sort_values("us")
        out = []
        if state.exists:
            last_us, start_us, n, cents = state.get
        else:
            last_us = start_us = None
            n = cents = 0
        for us, c in zip(rows["us"], rows["cents"]):
            us, c = int(us), int(c)
            if last_us is not None and us - last_us > gap_us:
                out.append([user_id, n, start_us, last_us, cents, True])
                start_us, n, cents = us, 0, 0
            if start_us is None:
                start_us = us
            last_us = us
            n += 1
            cents += c
        state.update((last_us, start_us, n, cents))
        if out:
            yield pd.DataFrame(
                out, columns=[f.name for f in _SESSION_OUT_SCHEMA.fields]
            )

    return fn


def sessionize_stream(
    events_stream: DataFrame,
    gap_minutes: int = DEFAULT_GAP_MIN,
    sink_name: str = "sessionize_stream_sink",
) -> DataFrame:
    """TRUE stateful-streaming sessionization via
    ``applyInPandasWithState``: state = one open session per user
    (bounded), processing-time timeout flushes idle sessions.

    State timeout is ``NoTimeout``: under ``availableNow`` a
    processing-time timeout keeps the query alive polling for expiry
    (observed as an endless micro-batch loop), so idle-flush belongs
    only in a continuous deployment.  Each user's final open session
    is therefore still in state at shutdown; the returned frame holds
    every CLOSED session, and the driver records this query as a
    rows-only check.

    State partitions come from the session ``events_stream`` was built
    in: build it with ``read_events_stream`` / ``stream_session``.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    prepped = events_stream.select(
        "user_id",
        epoch_us(F.col("ts")).alias("us"),
        money_cents(F.col("value")).alias("cents"),
    )
    sessions = prepped.groupBy("user_id").applyInPandasWithState(
        _session_state_fn(gap_us),
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return drain(sessions, sink_name).select(
        "user_id",
        "n_events",
        F.date_format(ntz_from_us(F.col("start_us")), fmt).alias("start_ts"),
        F.date_format(ntz_from_us(F.col("end_us")), fmt).alias("end_ts"),
        "value_cents",
    )
