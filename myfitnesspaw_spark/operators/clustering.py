"""Iterative k-means (Lloyd) over an embedding column — the
iterative-ML companion to ``connected_components``: tiny model state
round-trips through the driver each iteration while the data-parallel
steps stay pure projections/aggregations.

Exactness contract (oracle-checkable): vectors are scaled to integer
micro-units once (``round(x·10⁶)`` on doubles — the money-cents
pattern), so squared distances and WCSS are EXACT integer sums and the
argmin has no float slack.  The only division is the centroid mean,
computed as one IEEE double division then truncation toward zero —
bit-identical in Python, Spark, and DuckDB (``TRUNC``).

Scale shape (100 TB stance):
- assignment is a PURE PROJECTION: k·d centroid literals ride into
  every task (one ``transform`` over a 2-D literal — the flat-tree
  discipline from operators/similarity.py); no shuffle, no join;
- the update is ONE groupBy(cluster) aggregate with d+1 exact integer
  sums — map-side combined, k·(d+1) numbers collected to the driver;
- iterations are driver-orchestrated like every production Lloyd
  (centroid state is KBs; the data never round-trips).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from myfitnesspaw_spark.session import create_frame

SCALE = 1_000_000


def scale_to_micro(vec_col: Column) -> Column:
    """float array → exact integer micro-units (array<long>)."""
    return F.transform(
        vec_col, lambda x: F.round(x.cast("double") * SCALE).cast("long")
    )


def _dist_scores(vec_col: str, cvecs: Column | None = None, cids: Column | None = None) -> Column:
    """``array<struct<dist, cid>>``: exact squared L2 distance of the
    row's integer vector to every centroid in ``cvecs`` / ``cids``
    (default: the joined ``__cvecs`` / ``__cids`` columns; literal
    arrays for the one-shot assigner below)."""
    return F.zip_with(
        F.col("__cvecs") if cvecs is None else cvecs,
        F.col("__cids") if cids is None else cids,
        lambda cv, cid: F.struct(
            F.aggregate(
                F.zip_with(F.col(vec_col), cv, lambda x, c: (x - c) * (x - c)),
                F.lit(0).cast("long"),
                lambda acc, d: acc + d,
            ).alias("dist"),
            cid.alias("cid"),
        ),
    )


def assign_clusters(
    df: DataFrame, vec_col: str, centroids: list[tuple[int, list[int]]]
) -> DataFrame:
    """Nearest-centroid assignment (+ its exact distance); ties break
    toward the LOWER cid (``array_min`` on (dist, cid) structs).

    Centroids travel as DATA — a broadcast one-row cross join — not as
    literals: every Lloyd round changes the centroid values, and
    baking them into the expression tree would force a fresh
    whole-stage-codegen compile per round (measured 3× the steady
    runtime); as a joined column the generated code is compiled once
    and reused for every round."""
    spark = df.sparkSession
    cents = sorted(centroids)
    cents_df = create_frame(
        spark,
        [([list(map(int, v)) for _, v in cents], [int(cid) for cid, _ in cents])],
        "__cvecs array<array<bigint>>, __cids array<bigint>",
    )
    best = F.array_min(_dist_scores(vec_col))
    return (
        df.crossJoin(F.broadcast(cents_df))
        .withColumn("cluster", best["cid"])
        .withColumn("dist", best["dist"])
        .drop("__cvecs", "__cids")
    )


def assign_clusters_lit(
    df: DataFrame, vec_col: str, centroids: list[tuple[int, list[int]]]
) -> DataFrame:
    """ONE-SHOT nearest-centroid assignment with the centroids baked in
    as flat 2-D LITERALS — result-identical to :func:`assign_clusters`
    (same ``_dist_scores`` argmin, same tie-break), different plumbing
    for a different call pattern (r20 optimization):

    * :func:`assign_clusters` ships centroids as DATA through a 1-row
      broadcast cross join so Lloyd's per-round centroid updates reuse
      one compiled plan — the right trade INSIDE an iteration loop.
    * But cross-join STATS MULTIPLY, and ``localCheckpoint`` carries
      the inflated estimate through (measured: a checkpointed
      assignment read ``sizeInBytes ≈ 1.1e25`` from a 2080-row table),
      so any downstream self-join on the assignment can never
      auto-broadcast and AQE plans a sort-merge join from the start.
      A one-shot caller (SemDeDup assignment feeding the within-cluster
      pair join) pays that planning damage for a codegen reuse it never
      exercises.  Literals keep the lineage a pure projection with
      honest scan-derived stats; the single codegen compile is paid
      once, exactly as in ``ivf_coarse_assign``.
    """
    cents = sorted(centroids)
    cvecs = F.array(
        *[F.array(*[F.lit(int(x)).cast("bigint") for x in v]) for _, v in cents]
    )
    cids = F.array(*[F.lit(int(cid)).cast("bigint") for cid, _ in cents])
    best = F.array_min(_dist_scores(vec_col, cvecs, cids))
    return df.withColumn("cluster", best["cid"]).withColumn("dist", best["dist"])


def lloyd_iterations(
    df: DataFrame,
    vec_col: str,
    init_centroids: list[tuple[int, list[int]]],
    n_iter: int,
) -> list[tuple[int, list[int]]]:
    """``n_iter`` Lloyd rounds; returns the final centroid list.

    The update collects k·(d+1) integers per round; a cluster that
    loses all members drops out (its id simply stops existing), which
    the SQL oracle mirrors by construction.
    """
    dim = len(init_centroids[0][1])
    centroids = init_centroids
    for _ in range(n_iter):
        assigned = assign_clusters(df, vec_col, centroids)
        sums = (
            assigned.groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at(F.col(vec_col), i + 1)).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        # int(float/float): one IEEE division + truncation toward zero
        # == Spark CAST(double AS LONG) == DuckDB CAST(TRUNC(x) AS BIGINT).
        centroids = [
            (
                int(r["cluster"]),
                [int(float(r[f"s{i}"]) / float(r["n"])) for i in range(dim)],
            )
            for r in sums
        ]
    return centroids


def farthest_first_seeds(
    sample: list[tuple[int, list[int]]], k: int
) -> list[tuple[int, list[int]]]:
    """Deterministic k-means++-style seeding: Gonzalez's farthest-first
    traversal over a bounded sample.

    Lowest-id-vector seeding (the prior SemDeDup/IVF quantizer) takes
    whatever the first K rows happen to be — at scale that means
    centroids drawn from one corner of the embedding space and wildly
    unbalanced clusters (one giant cluster = quadratic near-dup work,
    see plans/pipeline_queries.py NC discussion).  k-means++ fixes the
    spread but needs RNG state; the farthest-first traversal is its
    standard derandomization (2-approximation for the k-center
    objective, Gonzalez 1985): seed 1 = the lowest-id sample row, each
    next seed = the unchosen row maximizing its MIN exact-integer L2²
    distance to the chosen set, ties toward the lower id.  Exact
    integer arithmetic end to end, so the seed set is replicable
    verbatim in SQL (the oracle unrolls the same k−1 argmax stages).

    ``sample`` is (id, micro-unit int vector) rows — bounded
    (constant-size, md5-rank-selected by the caller), so this runs
    driver-side like every quantizer build in the suite; the CORPUS
    never touches the driver.
    """
    if not sample:
        return []
    rows = sorted(sample, key=lambda r: r[0])
    chosen = [rows[0]]
    chosen_ids = {rows[0][0]}
    while len(chosen) < k and len(chosen) < len(rows):
        best = None  # (mind, -id) maximized with lower-id tie-break
        for vid, vec in rows:
            if vid in chosen_ids:
                continue
            mind = min(
                sum((a - b) * (a - b) for a, b in zip(vec, cvec))
                for _, cvec in chosen
            )
            key = (mind, -vid)
            if best is None or key > best[0]:
                best = (key, vid, vec)
        chosen.append((best[1], best[2]))
        chosen_ids.add(best[1])
    return chosen
