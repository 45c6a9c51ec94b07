"""Every registered named query must match its DuckDB oracle —
the same check the driver runs at sf0.01 (here at the test sf).

The same pass also LINTS each query's final physical plan (free: the
DataFrame is already built, and ``explainString`` only runs Catalyst,
not the job).  This turns the per-query plan audits in
``test_plans.py`` into a registry-wide ratchet:

- ``CartesianProduct`` is banned outright — every cross-shaped join in
  the repo must be broadcast-bounded (BNLJ), never a full cartesian;
- row-at-a-time Python (``BatchEvalPython*``) is allowed only for the
  one intentional UDTF demo;
- ``BroadcastNestedLoopJoin`` is allowlisted per query: BNLJ is the
  right plan for k≪N non-equi / 1-row-aggregate joins, but a NEW query
  that introduces one must be added here consciously (with the same
  construction-bounded-side audit the existing entries got) rather
  than slipping in silently.
"""

from __future__ import annotations

import pytest

from myfitnesspaw_spark.plans import registry
from tests.conftest import assert_matches_oracle

_QUERIES = registry.queries()
_ORACLES = registry.oracle_sql()

# Queries whose final plan may contain a BroadcastNestedLoopJoin.  Every
# entry was audited (VERDICT r11 + the r12 sweep) as joining against a
# construction-bounded side: a 1-row global aggregate (corpus stats, IDF
# normalizer, quota totals), a literal band/bucket dimension, or a
# bounded anchor/query sample.
_BNLJ_ALLOWED = frozenset(
    {
        "ann_topk_cosine",
        "bm25_rank",
        "cascade_delete_consistency",
        "cms_heavy_hitters",
        "corpus_build_pipeline",
        "etl_exercises_silver",
        "etl_mealentries_silver",
        "etl_meals_silver",
        "fk_orphan_audit",
        "forward_fill_gauge",
        "hard_negative_mining",
        "ivf_recall_eval",
        "kmeans_clusters",
        "mixture_sample",
        "mmr_rerank",
        "pq_ann_topk",
        "pq_recall_eval",
        "price_band_join",
        "q22_dormant_customers",
        "random_negative_sampling",
        "streaming_cms_heavy_hitters",
        "tf_idf_topk",
    }
)

# Row-at-a-time Python evaluation is the slow path; the only permitted
# site is the Spark 4 UDTF demo (result-checked against the native form
# in test_plans.py).
_ROW_PYTHON_ALLOWED = frozenset({"sentence_split_udtf"})


def _plan_text(df) -> str:
    # classic PySpark exposes the JVM QueryExecution directly; under
    # Spark Connect (no _jdf) fall back to the public explain() text so
    # the lint degrades to the same check instead of erroring the whole
    # registry sweep (ADVICE r12; shared with the inner-batch lint per
    # ADVICE r13 so a Connect session can't crash every foreachBatch).
    if hasattr(df, "_jdf"):
        spark = df.sparkSession
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    # pragma: no cover - exercised only under Spark Connect
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _lint_final_plan(name: str, df) -> None:
    plan = _plan_text(df)
    assert "CartesianProduct" not in plan, (
        f"{name}: CartesianProduct in the final plan — a cross-shaped join "
        f"lost its broadcast bound (check the small side's construction)"
    )
    if "BatchEvalPython" in plan and name not in _ROW_PYTHON_ALLOWED:
        raise AssertionError(
            f"{name}: row-at-a-time Python eval (BatchEvalPython*) in the "
            f"final plan — use built-in functions or an Arrow-batched "
            f"pandas UDF, or allowlist deliberately"
        )
    if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOWED:
        raise AssertionError(
            f"{name}: unallowlisted BroadcastNestedLoopJoin — audit that the "
            f"build side is construction-bounded, then add it to "
            f"_BNLJ_ALLOWED in {__name__}"
        )


def _lint_inner_batch_plan(sink_name: str, df) -> None:
    """Lint for streaming queries' foreachBatch micro-batch plans
    (VERDICT r12 #8): the final-plan lint sees only the drained
    localCheckpoint scan, so the plans that do the streaming work are
    checked here, via the ``lint_hook`` seam, on every micro-batch the
    sweep drives.  CartesianProduct and row-Python are held to the
    final-plan standard; BNLJ is exempt — inner frames join
    micro-batch-bounded state, and the per-query audit that backs the
    final-plan allowlist has no equivalent for anonymous inner plans.
    Every stream drains through ``streaming/merge.py:drain``, so each
    merge body passed to it is checked here: the append default and
    the complete-mode keep-last (``unionByName`` / the batch itself),
    the keyed upsert (``upsert_keep_latest`` over ``unionByName``), the
    update-mode keep-latest (streaming/rollup.py left_anti on
    key_cols; the band-store probe is an equi-join upstream) and the
    additive CMS counts (``unionByName`` + ``groupBy``).  None joins
    two unbounded non-state sides, so no BNLJ arm is needed here yet;
    extend with a named allowlist the round one appears."""
    plan = _plan_text(df)
    assert "CartesianProduct" not in plan, (
        f"{sink_name}: CartesianProduct inside a foreachBatch merge plan"
    )
    assert "BatchEvalPython" not in plan, (
        f"{sink_name}: row-at-a-time Python eval inside a foreachBatch "
        f"merge plan"
    )


@pytest.fixture(autouse=True)
def _hook_inner_plan_lint():
    from myfitnesspaw_spark.streaming import lint_hook

    lint_hook.BATCH_PLAN_LINT = _lint_inner_batch_plan
    yield
    lint_hook.BATCH_PLAN_LINT = None


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    df = _QUERIES[name](spark, sf_dir)
    _lint_final_plan(name, df)
    oracle = _ORACLES.get(name)
    if oracle is None:
        assert df.count() >= 0  # rows-only check, like the driver
    else:
        assert_matches_oracle(df, duck, oracle)


def test_lint_trips_on_bad_plans(spark):
    """The lint must actually FAIL on the plans it bans — a ratchet
    that cannot trip is decoration.  A genuine cartesian (non-equi
    cross of two unbounded ranges), a row-at-a-time Python UDF, and an
    unallowlisted BNLJ each raise; the UDTF allowlist admits only its
    named query."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType

    # The frames are tiny; the JOIN SHAPE is what the planner turns
    # into each banned node: a non-equi join on small stats plans as
    # BNLJ, and an explicit crossJoin with auto-broadcast disabled
    # plans as CartesianProduct.
    a = spark.range(10).withColumnRenamed("id", "a")
    b = spark.range(10).withColumnRenamed("id", "b")

    bnlj = a.join(b, F.col("a") < F.col("b"))
    with pytest.raises(AssertionError, match="BroadcastNestedLoopJoin"):
        _lint_final_plan("not_allowlisted", bnlj)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cart = a.crossJoin(b)
        with pytest.raises(AssertionError, match="CartesianProduct"):
            _lint_final_plan("any_query", cart)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    plus_one = F.udf(lambda x: x + 1, LongType())
    rowpy = a.select(plus_one(F.col("a")).alias("a1"))
    with pytest.raises(AssertionError, match="BatchEvalPython"):
        _lint_final_plan("not_the_udtf_demo", rowpy)
    # the one allowlisted name passes the row-Python arm
    _lint_final_plan("sentence_split_udtf", rowpy)


def test_type_class_check_trips_on_hugeint(spark, duck):
    """The Arrow type-class parity arm of assert_matches_oracle must
    trip on the exact hazard it exists for: a DuckDB SUM over plain
    INTEGER yields HUGEINT, which this build's Arrow export degrades
    to float64 — invisible to fetchall (Python int) but fatal to the
    driver's Arrow-based value hash."""
    import pyspark.sql.functions as F

    df = spark.range(3).agg(F.sum("id").alias("s"))
    with pytest.raises(AssertionError, match="type-class"):
        assert_matches_oracle(
            df, duck, "SELECT SUM(x) AS s FROM (VALUES (0),(1),(2)) t(x)"
        )
    # the documented discipline fixes it
    assert_matches_oracle(
        df,
        duck,
        "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (VALUES (0),(1),(2)) t(x)",
    )
