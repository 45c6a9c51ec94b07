"""Streaming MERGE: every stream in the package drains through
:func:`drain` — the streaming form of the reference's ``INSERT OR
REPLACE`` ingestion (SURVEY.md §2.9: "foreachBatch MERGE ≙ K2").

``drain`` runs a stream ``foreachBatch`` to the end of its backlog and
folds each micro-batch into a running result with a caller-supplied
merge (append: union; complete: keep the last emission; keyed upsert:
keep-latest; additive sketch: sum).  On a Delta/Iceberg deployment the
merge becomes ``MERGE INTO``; here the running result is a local
variable of the call behind a ``localCheckpoint`` per batch, so lineage
stays flat across batches and no view, query name or catalog entry is
shared with another caller.
"""

from __future__ import annotations

import warnings
from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from myfitnesspaw_spark.operators import upsert_keep_latest
from myfitnesspaw_spark.streaming.lint_hook import lint_batch_plan


def drain(
    stream: DataFrame,
    name: str,
    output_mode: str = "append",
    merge: Optional[Callable[[DataFrame, DataFrame], DataFrame]] = None,
    schema: Optional[T.StructType] = None,
    multi_batch_exact: bool = True,
) -> DataFrame:
    """Run ``stream`` with ``trigger(availableNow=True)`` to the end of
    its backlog and return the drained result as a batch DataFrame.

    Each micro-batch folds in as ``merge(result, batch)`` (default
    ``unionByName``), goes through ``lint_batch_plan(name, ...)`` and
    is ``localCheckpoint``-ed.  ``result`` starts as an empty frame of
    ``schema`` (default ``stream.schema``), so a stream that fires no
    micro-batch returns 0 rows with its columns.  It lives in this call
    only (``foreachBatch`` runs in the driver under classic PySpark),
    so concurrent drains cannot see each other's state.  The seed is
    built with ``range(0)``: ``createDataFrame`` would make the
    stream's session the caller's active one.

    ``multi_batch_exact=False`` declares a tight watermark, under which
    a drain of more than one micro-batch may drop late rows and diverge
    from a batch oracle: that case warns.
    """
    schema = schema or stream.schema
    result = stream.sparkSession.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )
    fold = merge or (lambda state, batch: state.unionByName(batch))

    def _merge(batch: DataFrame, batch_id: int) -> None:
        nonlocal result
        merged = fold(result, batch)
        lint_batch_plan(name, merged)
        result = merged.localCheckpoint()

    query = (
        stream.writeStream.foreachBatch(_merge)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    if not multi_batch_exact and len(query.recentProgress) > 1:
        warnings.warn(
            f"{name}: availableNow drain took {len(query.recentProgress)} "
            "micro-batches; update-mode results may drop rows arriving behind "
            "the advancing watermark and diverge from a batch oracle",
            RuntimeWarning,
            stacklevel=2,
        )
    return result


def stream_upsert_latest(
    events_stream: DataFrame,
    key_cols: list[str],
    version_col: str,
    sink_name: str = "stream_upsert_done",
) -> DataFrame:
    """Drain the stream, merging each micro-batch into the running
    state (keep-latest per key), and return the final merged state.

    Merges run at the shuffle partitions of the session
    ``events_stream`` was built in: build it with
    ``read_events_stream`` / ``stream_session``.
    """
    return drain(
        events_stream,
        sink_name,
        merge=lambda state, batch: upsert_keep_latest(
            state.unionByName(batch), key_cols, version_col
        ),
    )
