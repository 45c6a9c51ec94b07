"""Arbitrary stateful processing via ``transformWithStateInPandas`` —
Spark 4's successor API to ``applyInPandasWithState`` (SPARK-46815,
"State API v2"), covered here alongside the v1 sessionizer
(`streaming/sessions.py`) so a user of either stateful surface finds
it in the engine.

What the new API adds over v1 and why an engine wants it: NAMED
COMPOSITE STATE.  A v1 processor gets exactly one state tuple per
key; v2 hands the processor a handle that can register any number of
typed ValueState / ListState / MapState variables (each its own
column family in the state store, each independently evictable via
TTL) plus event/processing-time timers.  The operator below exercises
the MapState surface — the shape a per-entity rollup wants: state is
keyed (user → event_type → aggregate), updates touch ONLY the map
entries seen in the batch, and the store never materializes a
per-user dense vector of all types.

Scale shape: state volume is Σ_user |distinct types seen|, bounded by
(users × type cardinality) regardless of stream length; each
micro-batch shuffles only its own rows to the state partitions
(sized by ``state_shuffle_partitions`` through the stream's
``stream_session``, never defaultParallelism);
emission is update-mode (touched entries only), drained through the
same keyed ``foreachBatch`` merge every other stateful query in this
package uses.  All aggregate arithmetic is exact integers — cents and
epoch-µs are computed JVM-SIDE in the pre-shuffle projection
(``F.round`` HALF_UP for cents; numpy's half-even rounding inside the
processor would silently diverge from the oracle).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from myfitnesspaw_spark.functions.numeric import epoch_us, money_cents
from myfitnesspaw_spark.streaming.rollup import _drain_update_merge

# The v2 Python state protocol rides a protobuf channel
# (pyspark/sql/streaming/proto/StateMessage_pb2) — `protobuf` is a
# RUNTIME dependency of transformWithStateInPandas that pyspark does
# not bundle.  This sandbox ships without it (and installs are out of
# bounds), so the operator gates on the import and degrades to a v1
# ``applyInPandasWithState`` processor with the IDENTICAL state shape
# (user → type → aggregate, as parallel arrays in the single v1 state
# slot) and the identical update-mode emission contract — the
# registered query certifies the operator's semantics either way, and
# a cluster with protobuf present takes the v2 path untouched.
# Gate on the ACTUAL capability, not a proxy: the v2 path needs (a)
# pyspark's generated protobuf state channel to import — which itself
# requires `protobuf` installed AND version-compatible with the
# generated ``StateMessage_pb2`` — and (b) this pyspark to expose the
# ``transformWithStateInPandas`` grouped-data API.  protobuf present
# but either half missing/broken must degrade to the v1 fallback here,
# not fail at runtime inside a stream.
# Carry status (re-checked r20, 2026-08-17): `protobuf` is still not
# importable in this container (`No module named 'google'`), so the v2
# path remains environment-blocked and the v1-fallback path is the
# certified one (tws_user_type_rollup).  Re-check each round; delete
# this note the round the import succeeds.
try:  # pragma: no cover - environment-dependent
    from pyspark.sql.group import GroupedData as _GroupedData
    from pyspark.sql.streaming.proto import StateMessage_pb2 as _state_pb2  # noqa: F401

    HAS_TWS_RUNTIME = hasattr(_GroupedData, "transformWithStateInPandas")
except Exception:  # ImportError or a broken generated _pb2
    HAS_TWS_RUNTIME = False

_OUT_SCHEMA = (
    "user_id bigint, event_type string, n_events bigint, "
    "value_cents bigint, first_us bigint, last_us bigint"
)


_OUT_COLS = [
    "user_id",
    "event_type",
    "n_events",
    "value_cents",
    "first_us",
    "last_us",
]


def _merge_rows(
    rows: Iterator[pd.DataFrame],
    get_prior,
) -> dict[str, tuple[int, int, int, int]]:
    """Fold a micro-batch's pandas chunks into per-type totals,
    seeding each touched type from ``get_prior(event_type)`` (the
    persisted state; None when unseen).  Pure integer arithmetic —
    the cents/µs columns were computed JVM-side."""
    touched: dict[str, tuple[int, int, int, int]] = {}
    for pdf in rows:
        g = pdf.groupby("event_type", sort=False)
        batch = zip(
            g.size().items(),
            g["cents"].sum().items(),
            g["us"].min().items(),
            g["us"].max().items(),
        )
        for (et, n), (_, cents), (_, first_us), (_, last_us) in batch:
            prior = touched.get(et)
            if prior is None:
                prior = get_prior(et)
            if prior is None:
                cur = (int(n), int(cents), int(first_us), int(last_us))
            else:
                cur = (
                    prior[0] + int(n),
                    prior[1] + int(cents),
                    min(prior[2], int(first_us)),
                    max(prior[3], int(last_us)),
                )
            touched[et] = cur
    return touched


class _UserTypeRollup(StatefulProcessor):
    """Per-user MapState rollup: event_type → (n, cents, first_us,
    last_us).  Emits the current totals of every type TOUCHED by the
    batch (update semantics — the drain merge keeps the latest row
    per (user, type))."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._agg = handle.getMapState(
            "agg",
            "event_type string",
            "n bigint, cents bigint, first_us bigint, last_us bigint",
        )

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        user_id = int(key[0])

        def get_prior(et: str):
            if self._agg.containsKey((et,)):
                return tuple(self._agg.getValue((et,)))
            return None

        touched = _merge_rows(rows, get_prior)
        out = []
        for et, vals in touched.items():
            self._agg.updateValue((et,), vals)
            out.append((user_id, et) + vals)
        if out:
            yield pd.DataFrame(out, columns=_OUT_COLS)

    def close(self) -> None:
        pass


def _v1_rollup_fn(key, rows: Iterator[pd.DataFrame], state):
    """v1 fallback: same rollup through ``applyInPandasWithState``.
    The single v1 state slot holds the map as parallel arrays
    (types[], aggs[][4]) — the per-key state volume is identical to
    the v2 MapState column family."""
    user_id = int(key[0])
    agg: dict[str, tuple[int, int, int, int]] = {}
    if state.exists:
        types, aggs = state.get
        agg = {t: tuple(int(x) for x in a) for t, a in zip(types, aggs)}
    touched = _merge_rows(rows, agg.get)
    agg.update(touched)
    state.update((list(agg.keys()), [list(v) for v in agg.values()]))
    if touched:
        yield pd.DataFrame(
            [(user_id, et) + vals for et, vals in touched.items()],
            columns=_OUT_COLS,
        )


def tws_user_type_rollup(
    events_stream: DataFrame,
    sink_name: str = "tws_user_type_rollup_sink",
) -> DataFrame:
    """Drain the events stream through the MapState rollup and return
    the final (user_id, event_type) totals — batch-equivalent to
    ``GROUP BY user_id, event_type`` with COUNT / Σcents / MIN / MAX,
    which is exactly what the DuckDB oracle certifies.

    State partitions come from the session ``events_stream`` was built
    in: build it with ``read_events_stream`` / ``stream_session``."""
    prepped = events_stream.select(
        "user_id",
        "event_type",
        epoch_us(F.col("ts")).alias("us"),
        money_cents(F.col("value")).alias("cents"),
    )
    if HAS_TWS_RUNTIME:
        rolled = prepped.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_UserTypeRollup(),
            outputStructType=_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    else:
        from pyspark.sql.streaming.state import GroupStateTimeout

        rolled = prepped.groupBy("user_id").applyInPandasWithState(
            _v1_rollup_fn,
            outputStructType=_OUT_SCHEMA,
            stateStructType="types array<string>, aggs array<array<bigint>>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    return _drain_update_merge(rolled, ["user_id", "event_type"], sink_name)
