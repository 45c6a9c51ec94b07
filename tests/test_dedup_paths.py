"""The corpus-dedup fast paths: connected components on the driver for
small graphs, one shingling pass, verification spread over every core,
and library calls that leave the caller's active session alone."""

from __future__ import annotations

import re

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st


def _union_find_min(edges) -> dict:
    """node -> least node of its component, by plain union-find."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in list(parent)}


def _shapes(rng: np.random.RandomState) -> list[tuple[int, int]]:
    """Chain, star, clique, isolated edge and two random graphs on
    disjoint id ranges; the chain stays shorter than the Spark path's
    default ``max_iter`` rounds."""
    chain = [(i, i + 1) for i in range(12)]
    star = [(100, 100 + i) for i in range(1, 30)] + [(150, 100)]
    clique = [(200 + i, 200 + j) for i in range(7) for j in range(7) if i != j]
    isolated = [(301, 300)]
    random = []
    for base in (1000, 2000):
        n = int(rng.randint(10, 60))
        random += [
            (base + int(rng.randint(0, n)), base + int(rng.randint(0, n)))
            for _ in range(int(rng.randint(5, 80)))
        ]
    return chain + star + clique + isolated + random


def test_cc_driver_and_spark_paths_agree(spark):
    """Both paths label every shape with its component minimum; the
    bound picks the path (0 forces Spark, a huge one the driver)."""
    from myfitnesspaw_spark.operators.dedup import connected_components

    edges = _shapes(np.random.RandomState(7))
    want = _union_find_min(edges)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {}
    for bound in (0, 10**12):
        stats: dict = {}
        out = connected_components(df, stats=stats, driver_max_edges=bound)
        assert out.schema.simpleString() == "struct<node:bigint,cluster:bigint>"
        got[bound] = {r["node"]: r["cluster"] for r in out.collect()}
        assert stats["rounds"] >= 1
    assert got[0] == want
    assert got[10**12] == want


def test_cc_spark_path_labels_a_long_chain(spark):
    """Hash-min in Spark on its worst case, a long diameter: a 20-node
    chain plus a triangle, with enough rounds to converge."""
    from myfitnesspaw_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(19)]
    tri = [(100, 101), (101, 102), (100, 102)]
    edges = spark.createDataFrame(chain + tri, "id_a long, id_b long")
    stats: dict = {}
    out = connected_components(edges, max_iter=25, stats=stats, driver_max_edges=0)
    got = {r["node"]: r["cluster"] for r in out.collect()}
    assert got == {i: 0 for i in range(20)} | {100: 100, 101: 100, 102: 100}
    assert 1 < stats["rounds"] <= 25


def test_cc_spark_path_refresh_contraction(spark):
    """The incremental-refresh shape on the Spark path: CC over the
    stored labels fed back as edges (self-loops included) plus the
    pairs touching a batch equals CC over all pairs."""
    from myfitnesspaw_spark.operators.dedup import connected_components

    def spark_cc(pairs) -> dict:
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        return {r["node"]: r["cluster"] for r in connected_components(df, driver_max_edges=0).collect()}

    rng = np.random.RandomState(2024)
    for trial in range(2):
        n = int(rng.randint(10, 40))
        edges = sorted({(int(rng.randint(0, n)), int(rng.randint(0, n))) for _ in range(40)})
        edges = [(a, b) for a, b in edges if a != b] + [(500 + i, 501 + i) for i in range(6)]
        batch = {int(x) for x in rng.choice(n, size=n // 4, replace=False)} | {503}
        base = [(a, b) for a, b in edges if a not in batch and b not in batch]
        delta = [(a, b) for a, b in edges if a in batch or b in batch]
        merged = list(spark_cc(base).items()) + delta
        assert spark_cc(merged) == _union_find_min(edges), f"trial {trial}"


def test_cc_driver_path_is_a_local_relation_of_the_id_type(spark):
    from myfitnesspaw_spark.operators.dedup import connected_components

    df = spark.createDataFrame([(3, 2), (2, 1), (7, 8)], "id_a int, id_b int")
    out = connected_components(df)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert out.schema.simpleString() == "struct<node:int,cluster:int>"
    assert sorted(map(tuple, out.collect())) == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]


@given(
    edges=st.lists(
        st.tuples(st.integers(-50, 50), st.integers(-50, 50)), max_size=120
    ),
    chain=st.integers(0, 200),
)
@settings(max_examples=200, deadline=None)
def test_driver_min_labels_match_union_find(edges, chain):
    """The numpy labeling reaches the component minimum on any graph,
    long chains included: it runs to its fixed point, with no round cap."""
    from myfitnesspaw_spark.operators.dedup import _driver_min_labels

    edges = edges + [(1000 + i, 1000 + i + 1) for i in range(chain)]
    a = np.array([e[0] for e in edges], dtype=np.int64)
    b = np.array([e[1] for e in edges], dtype=np.int64)
    nodes, cluster, passes = _driver_min_labels(a, b)
    assert dict(zip(nodes.tolist(), cluster.tolist())) == _union_find_min(edges)
    assert passes >= 1


# --- plan pins (formatted explain, as in tests/test_plans.py) ---------------


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_shingles_materialize_without_a_pushed_down_filter(spark, monkeypatch):
    """The frame ``minhash_signatures`` checkpoints over ``scatter(docs)``
    holds no Filter: an empty-set filter above the shingle projection
    is pushed below the RoundRobinPartitioning exchange, where it
    shingles every doc a second time in the scan stage."""
    from myfitnesspaw_spark.operators import dedup
    from myfitnesspaw_spark.sources import scatter

    captured = []

    def capture(df):
        captured.append(df)
        return df

    monkeypatch.setattr(dedup, "materialize_instance_sized", capture)
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "b c d e f g"), (3, "x")], "doc_id long, text string"
    )
    dedup.minhash_signatures(scatter(docs), "doc_id", "text", 16)
    (materialized,) = captured
    plan = _formatted(materialized)
    assert "RoundRobinPartitioning" in plan
    assert re.findall(r"\(\d+\) Filter", plan) == []


def test_band_candidates_keep_a_fixed_partition_count(spark):
    """The candidate list leaves banding through a REPARTITION_BY_NUM
    exchange, which AQE does not coalesce, and the distinct adds no
    exchange of its own.  (A repartition placed after the distinct is
    dropped by the planner, so that order fails the first assertion.)"""
    from myfitnesspaw_spark.operators.dedup import minhash_band_candidates

    sig = spark.createDataFrame(
        [(i, *[f"{(i // 3) * 16 + j:02x}" for j in range(16)]) for i in range(12)],
        "doc_id long, " + ", ".join(f"h{j} string" for j in range(16)),
    )
    cand = minhash_band_candidates(sig, "doc_id", 16, 2)
    plan = _formatted(cand)
    assert "REPARTITION_BY_NUM" in plan
    assert len(re.findall(r"hashpartitioning\(id_a#\d+L?, id_b#\d+L?, \d+\)", plan)) == 1
    assert sorted(map(tuple, cand.collect())) == [
        (a, b) for g in range(4) for a in range(3 * g, 3 * g + 3) for b in range(a + 1, 3 * g + 3)
    ]


# --- the caller's active session ------------------------------------------------


@pytest.fixture
def other_session(spark):
    from pyspark.sql import SparkSession

    other = spark.newSession()
    spark.createDataFrame([(1,)], "x int")  # makes ``spark`` the active session
    assert SparkSession.getActiveSession() is spark
    yield other
    assert SparkSession.getActiveSession() is spark


def test_create_frame_keeps_the_active_session(spark, other_session):
    from pyspark.sql import SparkSession

    from myfitnesspaw_spark.session import create_frame

    df = create_frame(other_session, [(1, "a")], "k int, v string")
    assert df.sparkSession is other_session
    assert df.collect() == [(1, "a")]
    assert SparkSession.getActiveSession() is spark


def test_library_frames_on_another_session_keep_the_active_one(spark, sf_dir, other_session):
    """Every package call that builds a driver-side frame on ``other``
    leaves the caller's ``spark`` active."""
    from pyspark.sql import SparkSession

    from myfitnesspaw_spark.operators.clustering import assign_clusters
    from myfitnesspaw_spark.operators.dedup import connected_components
    from myfitnesspaw_spark.plans import nutrition, serving
    from myfitnesspaw_spark.plans.olap_queries import price_band_join

    calls = {
        "serving.local": lambda: serving.local(other_session, other_session.range(3)),
        "nutrition parts": lambda: nutrition._segment_parts(other_session, sf_dir),
        "price_band_join": lambda: price_band_join(other_session, sf_dir),
        "assign_clusters": lambda: assign_clusters(
            other_session.range(2).selectExpr("array(id, id) AS v"), "v", [(0, [0, 0])]
        ),
        "connected_components": lambda: connected_components(
            other_session.range(3).selectExpr("id AS id_a", "id + 1 AS id_b")
        ),
    }
    for name, call in calls.items():
        call()
        assert SparkSession.getActiveSession() is spark, name
