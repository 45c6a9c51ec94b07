"""Streaming MERGE: ``foreachBatch`` keyed upsert — the streaming form
of the reference's ``INSERT OR REPLACE`` ingestion (SURVEY.md §2.9:
"foreachBatch MERGE ≙ K2").

Each micro-batch merges into the running state with the same
``upsert_keep_latest`` the batch pipeline uses — on a Delta/Iceberg
deployment the body of ``_merge_batch`` becomes ``MERGE INTO``;
here (parquet-less, in-session) the state lives in a temp view with a
``localCheckpoint`` per batch so lineage stays flat across batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myfitnesspaw_spark.operators import upsert_keep_latest
from myfitnesspaw_spark.streaming.lint_hook import lint_batch_plan


def stream_upsert_latest(
    events_stream: DataFrame,
    key_cols: list[str],
    version_col: str,
    state_view: str = "stream_upsert_state",
    sink_name: str = "stream_upsert_done",
) -> DataFrame:
    """Drain the stream with ``foreachBatch``, merging each micro-batch
    into ``state_view`` (keep-latest per key), and return the final
    merged state.

    Merges run at the shuffle partitions of the session
    ``events_stream`` was built in: build it with
    ``read_events_stream`` / ``stream_session``.
    """
    spark = events_stream.sparkSession
    # GLOBAL temp view: foreachBatch executes on a micro-batch session
    # clone, whose local temp views are invisible to the outer session.
    spark.sql(f"DROP VIEW IF EXISTS global_temp.{state_view}")

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        exists = any(
            t.name == state_view for t in s.catalog.listTables("global_temp")
        )
        if exists:
            merged = upsert_keep_latest(
                s.table(f"global_temp.{state_view}").unionByName(batch),
                key_cols,
                version_col,
            )
        else:
            merged = upsert_keep_latest(batch, key_cols, version_col)
        lint_batch_plan(sink_name, merged)
        merged.localCheckpoint().createOrReplaceGlobalTempView(state_view)

    query = (
        events_stream.writeStream.foreachBatch(_merge_batch)
        .queryName(sink_name)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(f"global_temp.{state_view}")
