"""Test seam for linting streaming queries' INNER micro-batch plans.

The registry plan lint (tests/test_registry_oracle.py) checks only the
FINAL DataFrame each query returns — for streaming queries that is a
``localCheckpoint`` scan of the drained state, which hides the plans
that actually do the work inside ``foreachBatch`` (VERDICT r12 #8).
Every stream drains through ``streaming/merge.py:drain``, which calls
``lint_batch_plan(name, frame)`` on each merged frame it is about to
checkpoint, whatever the merge (append, complete, keyed upsert or
additive).  In production the hook is ``None`` and the call is a
no-op; the oracle sweep installs a lint so the inner streaming plans
are held to the same no-CartesianProduct / no-row-Python discipline as
final plans.  A lint failure raises inside the micro-batch and fails
the streaming query, surfacing through ``awaitTermination``.

Out of scope: ``transformWithState`` processors (streaming/tws.py) run
arbitrary per-group Python by design, not a DataFrame plan — there is
no micro-batch frame to lint.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame

BATCH_PLAN_LINT: Optional[Callable[[str, DataFrame], None]] = None


def lint_batch_plan(name: str, df: DataFrame) -> None:
    """Invoke the installed lint (if any) on a micro-batch frame."""
    hook = BATCH_PLAN_LINT
    if hook is not None:
        hook(name, df)
