"""Iterative link analysis over pair graphs (PageRank).

Complements operators/dedup.py's connected components: CC answers
"which docs are the same", PageRank answers "which doc is the most
central of its duplicate neighborhood" — the canonical-pick signal a
curation pass uses when 'lowest id wins' is too crude.

Determinism contract (cross-engine hash parity): ranks are exact
integer units.  Each contribution is ``rank DIV deg`` (truncating
integer division, identical in Spark and DuckDB), the neighbor sum is
an integer SUM (order-independent), and the damping update is
``0.15·SCALE + (85·Σ) DIV 100`` — no floats anywhere, so N unrolled
iterations produce bit-identical units in both engines.

Scale shape: per round, ONE join of the rank table to the symmetric
edge list on the source key and ONE map-side-combined sum on the
destination key — the textbook distributed PageRank step.  The edge
list is checkpointed once (reused every round); the rank lineage is
truncated per round with ``localCheckpoint`` like the CC loops.  No
driver-side collect anywhere; round count is a fixed small constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SCALE = 1_000_000
PR_DAMP_NUM = 85  # damping = 0.85 as a rational
PR_DAMP_DEN = 100


def pagerank_integer(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    iterations: int = 3,
    scale: int = PR_SCALE,
) -> DataFrame:
    """Exact-integer PageRank over an UNDIRECTED pair graph.

    Every node starts at ``scale`` units; each of ``iterations`` rounds
    sets ``rank' = 0.15·scale + 0.85·Σ_in (rank DIV deg)`` in
    truncating integer arithmetic.  Nodes are the edge endpoints, so
    every node has degree ≥ 1 (no dangling-mass correction needed).

    Returns ``(node, deg, rank_units)``.
    """
    # Materialize the pair-derivation lineage ONCE.
    edges = edges.localCheckpoint()
    sym = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d")).unionByName(
        edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d"))
    )
    # Same loop discipline as the CC operators: the rounds run at the
    # session's shuffle-partition count, and AQE coalescing shrinks the
    # shuffles of the small rank/edge tables.
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("s").alias("node"), "deg").localCheckpoint(
        eager=False
    )
    base = (15 * scale) // 100
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    for _ in range(iterations):
        contrib = ranks.join(
            sym, ranks["node"] == sym["s"]
        ).select(F.col("d"), F.expr("rank DIV deg").alias("c"))
        sums = contrib.groupBy("d").agg(F.sum("c").alias("csum"))
        ranks = (
            nodes.join(sums, nodes["node"] == sums["d"], "left")
            .select(
                "node",
                "deg",
                (
                    F.lit(base)
                    + F.expr(
                        f"({PR_DAMP_NUM} * coalesce(csum, 0L)) DIV {PR_DAMP_DEN}"
                    )
                ).cast("long").alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", "deg", F.col("rank").alias("rank_units"))


def triangle_counts(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Exact per-node triangle counts over an undirected pair graph —
    the local-clustering signal a curation pass reads next to degree
    and PageRank (a node whose neighbors all know each other sits in a
    dense duplicate clique; a high-degree node with NO triangles is a
    hub/template, a different cleanup decision).

    Algorithm: degree-ordered edge orientation (Suri & Vassilvitskii,
    WWW'11 — the same paper whose salt-cell partitioning the near-dup
    joins use).  Orient every edge from its (deg, id)-smaller endpoint
    to the larger; every triangle then has exactly ONE source node
    with two outgoing edges, so counting = one self-join of the
    oriented edge list on the source (wedge build) + one semi-check
    that the closing edge exists.  Orientation bounds each node's
    out-degree by O(√m) on any graph, so the wedge join is
    O(m^{3/2}) total work with no all-pairs blow-up — the reason this
    beats joining the raw symmetric edge list (whose hub nodes would
    contribute deg² wedges).

    Returns ``(node, deg, n_triangles)`` — every node of the graph,
    zero-triangle nodes included.

    The input is treated as an undirected SET of edges: duplicate
    rows, both orientations of the same pair, and self-loops are
    canonicalized away here (least/greatest + distinct) rather than
    assumed absent — a duplicated or doubly-oriented edge would
    otherwise silently inflate both deg and the triangle counts.
    """
    edges = (
        edges.select(
            F.least(F.col(id_a), F.col(id_b)).alias("u"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # (deg, id)-order each edge: the join ranks both endpoints.
    du = deg.select(F.col("u").alias("__n"), F.col("deg").alias("du"))
    dv = deg.select(F.col("u").alias("__n"), F.col("deg").alias("dv"))
    ranked = (
        edges.join(du, edges.u == du.__n).drop("__n")
        .join(dv, edges.v == dv.__n).drop("__n")
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
    ).localCheckpoint()
    # Wedges from a common source, ordered to count each once …
    w1 = oriented.select(F.col("s"), F.col("t").alias("t1"))
    w2 = oriented.select(F.col("s"), F.col("t").alias("t2"))
    wedges = w1.join(w2, "s").where(F.col("t1") < F.col("t2"))
    # … closed by an oriented edge between the two tips (either
    # direction — orientation of the closing edge depends on degrees).
    closing = oriented.select(
        F.col("s").alias("t1"), F.col("t").alias("t2")
    ).unionByName(
        oriented.select(F.col("t").alias("t1"), F.col("s").alias("t2"))
    )
    tris = wedges.join(closing, ["t1", "t2"]).select(
        F.col("s").alias("a"), F.col("t1").alias("b"), F.col("t2").alias("c")
    )
    per_node = (
        tris.select(F.col("a").alias("node"))
        .unionByName(tris.select(F.col("b").alias("node")))
        .unionByName(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.select(F.col("u").alias("node"), "deg")
        .join(per_node, "node", "left")
        .select(
            "node", "deg", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
        )
    )
