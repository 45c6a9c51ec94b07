"""Deterministic cost budgets for the benchmark workloads.

Wall-clock verdicts on a shared host are noisy; the counts that decide
latency at this size are not.  Each workload runs in-process at seed 1,
untraced, through the benchmark's own generators and workload classes
(``perfbench/gen.py``, ``perfbench/workloads.py``), and each operation
is counted: Spark jobs under a job group, and silver files with the
benchmark's ``dir_stats``.

A budget may only go DOWN.  A change that lowers a count lowers its
budget here and says so in CHANGES.md; a change that needs a higher
budget is a cost regression to justify, not a number to bump.
"""

from __future__ import annotations

import os
import sys
from datetime import timedelta

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)

import gen  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import CorpusDedup, EtlIncremental, dir_stats  # noqa: E402

SEED = 1

# (workload, counted quantity) -> (budget, why it is what it is)
BUDGETS = {
    ("corpus_dedup", "jobs_per_op"): (
        14,
        "the shingle-array and signature checkpoints, the adaptive stages "
        "of banding and verification that feed the edge checkpoint (which "
        "also observes the edge count), one Arrow collect for connected "
        "components on the driver, and the survivor write; 27 while "
        "connected components ran as Spark rounds",
    ),
    ("etl_incremental", "silver_files_per_increment"): (
        28,
        "4 silver tables x the 7-day window, one file per (table, date): "
        "write_silver rebalances rows by the partition column; 153-173 "
        "when every task wrote a file into every date it held",
    ),
}


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs that ``fn()`` starts, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _check(workload: str, quantity: str, counts: list[int]) -> None:
    budget, why = BUDGETS[(workload, quantity)]
    assert max(counts) <= budget, (
        f"{workload} {quantity} {counts} is over its budget {budget} ({why})"
    )


def test_corpus_dedup_jobs_per_op(spark, tmp_path):
    wl = CorpusDedup(SEED, Tracer(False))
    wl.generate(str(tmp_path))
    wl.op(spark, -1)  # warm-up: first-use planning and broadcasts
    counts = [
        _jobs(spark, f"cost-budget-dedup-{i}", lambda i=i: wl.op(spark, i)) for i in range(2)
    ]
    _check("corpus_dedup", "jobs_per_op", counts)


def test_etl_silver_files_per_increment(spark, tmp_path):
    # The fetch runs the benchmark's client inside Python workers.
    spark.sparkContext.addPyFile(gen.__file__)
    wl = EtlIncremental(SEED, Tracer(False))
    wl.db = "mfp_cost_budget"
    wl.generate(str(tmp_path))
    spark.sql(f"DROP DATABASE IF EXISTS {wl.db} CASCADE")
    spark.sql(f"CREATE DATABASE {wl.db} LOCATION '{tmp_path / 'warehouse'}'")
    try:
        wl.prepare(spark)
        tables = list(wl._silver(spark.table(f"{wl.db}.raw_day_data")))
        counts = []
        for i in range(2):
            wl.op(spark, i)
            new_day = gen.etl_backfill_to() + timedelta(days=wl.increments)
            window = [new_day - timedelta(days=d) for d in range(gen.ETL_WINDOW_DAYS)]
            files = 0
            for table in tables:
                loc = wl._location(spark, f"{wl.db}.{table}")
                files += sum(dir_stats(os.path.join(loc, f"date={d}"))[0] for d in window)
            counts.append(files)
        assert min(counts) > 0
        _check("etl_incremental", "silver_files_per_increment", counts)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {wl.db} CASCADE")
