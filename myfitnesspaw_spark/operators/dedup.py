"""Deduplication operators for large-scale corpus curation.

Beyond the reference's own surface (its only dedup is the byte-level
CDC diff, `/root/reference/myfitnesspaw/tasks.py:383-405`), these are
the operators a 100 TB training-data pipeline needs: exact hashing,
n-gram Jaccard via an inverted shingle index, banded MinHash LSH, and
banded SimHash.  All are pure DataFrame compositions — shuffles land on
content-hash keys (uniformly distributed, skew-free by construction),
small sides broadcast.  The one collect to the driver is
``connected_components``' edge list, and only up to
``CC_DRIVER_MAX_EDGES`` (1M) edges; a larger graph stays in Spark.

Scale shapes:

- ``exact_dedup_keep_min``: one hash-groupBy shuffle on md5(text).
- ``jaccard_pairs``: explode → shuffle on shingle → pair-count
  aggregate.  Cost is Σ |docs per shingle|²; hot shingles are the
  skew risk, so ``max_shingle_df`` drops stop-shingles (standard
  inverted-index trick; AQE skew-split handles the rest).
- ``minhash_lsh_pairs``: signature aggregate (one shuffle), band
  explode (b rows/doc), shuffle on band key — candidate generation
  never compares all pairs; verification joins shingle sets only for
  candidates.
- ``simhash_pairs``: token-level bit votes → 32-bit fingerprint, 4×
  8-bit band explode, shuffle on (band, byte) — then exact Hamming
  filter on the collided pairs.
"""

from __future__ import annotations

import warnings

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from myfitnesspaw_spark.checkpoints import materialize_instance_sized
from myfitnesspaw_spark.functions.text import (
    minhash_hashes,
    minhash_signature,
    normalize_text,
    simhash_bit_from_hash,
    tokens,
    word_shingles,
)
from myfitnesspaw_spark.session import create_frame

SIMHASH_BITS = 32

#: ``connected_components`` labels a graph of at most this many edges on
#: the driver.  Measured on a 4-core host (best of 3, driver path vs
#: Spark rounds): 16-id blocks of random edges (9 hash-min rounds) took
#: 1.3 vs 8.0 s at 0.23M edges, 3.9 vs 16.8 s at 0.94M, 8.4 vs 30.4 s
#: at 1.9M; 8-leaf stars (2 rounds) 0.9 vs 2.9 s at 0.25M, 3.8 vs
#: 4.7 s at 1M and 7.0 vs 6.8 s at 2M.  The bound is the largest size
#: where the driver won on both shapes; there the Python process peaked
#: at ~270 MB and the JVM at ~2.4-2.9 GB (the Spark rounds: 4.6-7.8 GB).  Above ~1M nodes the cost is the returned LocalRelation
#: (built and scanned on the driver), not the numpy labeling.
CC_DRIVER_MAX_EDGES = 1_000_000


def exact_dedup_keep_min(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on normalized text: one survivor (min id) per
    distinct content hash, plus the group size.

    Returns ``(id_col, text_hash, n_copies)``.
    """
    hashed = df.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("text_hash")
    )
    return hashed.groupBy("text_hash").agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("n_copies"),
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word-``n``-gram shingles per doc: ``(id, shingle)``.

    Tokens are materialized in their own projection before shingling —
    inlining ``tokens(...)`` into the shingle lambda re-evaluates the
    split per array element (O(n²)/doc).
    """
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    # Per-doc distinctness is a ROW-LOCAL property: array_distinct
    # before the explode dedupes map-side for free, where a
    # .distinct() after it would shuffle every (id, shingle) pair —
    # an entire exchange of the corpus' shingle multiset saved.
    return toks.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles(F.col("__toks"), n))).alias("shingle"),
    )


def shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Per-doc DISTINCT word-``n``-gram shingle ARRAYS: ``(id, sh)`` —
    the array-form sibling of :func:`shingle_sets` (which is its
    explode).  The array form feeds :func:`verify_pairs_arrays`, where
    intersection counts and set sizes are row-local instead of
    shuffle-keyed (r20)."""
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    return toks.select(
        F.col(id_col),
        F.array_distinct(word_shingles(F.col("__toks"), n)).alias("sh"),
    )


def verify_pairs(
    shingles: DataFrame,
    candidates: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs only.

    ``candidates`` is ``(id_a, id_b)``; intersections are counted by
    joining each side's shingle set through the candidate list — cost
    is Σ |shingles of candidate docs|, never all-pairs.  AQE broadcasts
    the (small) candidate list at runtime.

    Returns ``(id_a, id_b, n_shared, n_a, n_b, jaccard)`` filtered to
    ``jaccard ≥ threshold``.
    """
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a_sh = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    b_sh = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    shared = (
        candidates.join(a_sh, "id_a")
        .join(b_sh, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", "n_shared", "n_a", "n_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def verify_pairs_arrays(
    arrs: DataFrame,
    candidates: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs from per-doc
    DISTINCT shingle ARRAYS — result-identical to :func:`verify_pairs`
    over the exploded form (same columns, same types), with the
    per-pair work done row-locally (r20 optimization, guide §2.3/§2.4):

    * intersection counts come from ``array_intersect`` on the two
      attached arrays instead of a shingle-keyed join + pair groupBy —
      the corpus-shingle multiset is never shuffled;
    * set sizes are ``size(arr)`` projections instead of a full-table
      groupBy — another corpus-sized exchange gone;
    * only TWO joins remain (attach each side's array to the candidate
      list), both candidate-bounded, vs four in the exploded form.

    The jaccard expression is materialized through a Generate barrier
    (``explode(array(struct(...)))``) before the threshold filter:
    without it Catalyst pushes the filter into the second join's
    condition and the array_intersect is evaluated twice per pair
    (once in the join loop, once in the output projection) — the same
    duplicate-evaluation trap guide §4.4 documents for UDFs, here with
    an interpreted higher-order function.

    ``arrs`` is ``(id_col, sh)`` with ``sh`` a DISTINCT shingle array
    (``minhash_signatures``' checkpointed ``sh``); ``candidates`` is
    ``(id_a, id_b)``.  Returns the :func:`verify_pairs` contract:
    ``(id_a, id_b, n_shared, n_a, n_b, jaccard)`` with jaccard ≥
    ``threshold`` (and ``n_shared ≥ 1``, matching the exploded form's
    inner shingle join).
    """
    a = arrs.select(F.col(id_col).alias("id_a"), F.col("sh").alias("__sh_a"))
    b = arrs.select(F.col(id_col).alias("id_b"), F.col("sh").alias("__sh_b"))
    j = candidates.join(a, "id_a").join(b, "id_b")
    stats = F.struct(
        F.size(F.array_intersect("__sh_a", "__sh_b")).cast("long").alias("n_shared"),
        F.size("__sh_a").cast("long").alias("n_a"),
        F.size("__sh_b").cast("long").alias("n_b"),
    )
    proj = j.select(
        "id_a", "id_b", F.explode(F.array(stats)).alias("__v")
    ).select(
        "id_a",
        "id_b",
        "__v.n_shared",
        "__v.n_a",
        "__v.n_b",
        (
            F.col("__v.n_shared")
            / (F.col("__v.n_a") + F.col("__v.n_b") - F.col("__v.n_shared"))
        ).alias("jaccard"),
    )
    return proj.where((F.col("n_shared") > 0) & (F.col("jaccard") >= threshold))


def prefix_filter_candidates(shingles: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """PPJoin-style candidate pairs: prefix + length + positional
    filters (Xiao et al., WWW'08), zero recall loss.

    * **Prefix**: under any global total order of shingles (here: md5,
      uniform and skew-free), two sets with Jaccard ≥ t must share an
      element within each one's first ``n − ⌈t·n⌉ + 1`` shingles —
      indexing only prefixes cuts quadratic candidate generation by
      ~(1−t)².
    * **Length**: Jaccard ≥ t forces ``t·|A| ≤ |B| ≤ |A|/t`` — a
      row-local predicate on the joined sizes.
    * **Positional**: Jaccard ≥ t ⟺ overlap ≥ t/(1+t)·(|A|+|B|); a
      prefix element matched at rank r leaves at most
      ``min(|A|−r_A, |B|−r_B) + 1`` further possible matches, so pairs
      whose upper bound can't reach the required overlap drop before
      the distinct.  Both bounds use FLOOR (an under-approximation of
      the exact requirement), so pruning can only be too weak, never
      drop a true pair.

    Measured at sf0.1/t=0.8 on this corpus (tiny shingle vocabulary →
    hot prefix shingles): 227.9k joined rows → 37.9k after
    length+positional → 36.2k distinct candidates, vs 221.5k with the
    prefix filter alone — 6× less candidate-dedup shuffle and exact
    verification work for three cheap comparisons per joined row.
    """
    w = Window.partitionBy(id_col).orderBy(F.md5("shingle"), "shingle")
    ranked = shingles.select(
        F.col(id_col),
        "shingle",
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("__n"),
    )
    prefix = ranked.where(
        F.col("__r") <= F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    )
    return _prefix_pair_join(prefix, id_col, threshold)


def prefix_filter_candidates_arrays(
    arrs: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """:func:`prefix_filter_candidates` over per-doc DISTINCT shingle
    ARRAYS — identical candidate set (same (md5, shingle) global order,
    same 1-based ranks, same length/positional bounds), with the
    ranking computed ROW-LOCALLY (r20 wave 3, guide §2.4): the exploded
    form paid a corpus-sized Exchange + sort for the
    ``row_number() OVER (PARTITION BY id)`` window; here the rank is
    the element's position in the doc's own md5-sorted array and the
    set size is ``size(sh)`` — no exchange at all before the candidate
    join.  Only the PREFIX elements are exploded (≈(1−t)·|sh| per doc),
    so the shingle-keyed join sees the same rows as before.
    """
    sorted_sh = F.array_sort(
        F.transform(F.col("sh"), lambda s: F.struct(F.md5(s).alias("m"), s.alias("s")))
    )
    n = F.size(F.col("sh"))
    plen = (n - F.ceil(F.lit(threshold) * n) + 1).cast("int")
    pref = arrs.select(
        F.col(id_col),
        n.alias("__n"),
        F.posexplode(F.slice(sorted_sh, F.lit(1), plen)).alias("__p", "__e"),
    ).select(
        F.col(id_col),
        F.col("__e.s").alias("shingle"),
        (F.col("__p") + 1).alias("__r"),
        "__n",
    )
    return _prefix_pair_join(pref, id_col, threshold)


def _prefix_pair_join(pref: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """The candidate tail both prefix forms share: self-join the
    ``(id, shingle, __r, __n)`` prefix rows on ``shingle``, keep
    ``id_a < id_b`` pairs that pass the length and positional bounds,
    and de-duplicate."""
    a = pref.select(
        F.col(id_col).alias("id_a"),
        "shingle",
        F.col("__r").alias("__ra"),
        F.col("__n").alias("__na"),
    )
    b = pref.select(
        F.col(id_col).alias("id_b"),
        "shingle",
        F.col("__r").alias("__rb"),
        F.col("__n").alias("__nb"),
    )
    len_ok = (
        F.col("__nb") >= F.floor(F.lit(threshold) * F.col("__na"))
    ) & (F.col("__na") >= F.floor(F.lit(threshold) * F.col("__nb")))
    required_overlap = F.floor(
        F.lit(threshold / (1.0 + threshold)) * (F.col("__na") + F.col("__nb"))
    )
    possible_overlap = (
        F.least(F.col("__na") - F.col("__ra"), F.col("__nb") - F.col("__rb")) + 1
    )
    return (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .where(len_ok & (possible_overlap >= required_overlap))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs_prefix_arrays(
    arrs: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """:func:`jaccard_pairs_prefix` over per-doc DISTINCT shingle
    ARRAYS (``shingle_arrays``' output) — the r20 wave-3 form of the
    PPJoin pipeline: prefix ranks row-local
    (:func:`prefix_filter_candidates_arrays`), verification row-local
    (:func:`verify_pairs_arrays`).  The ONLY corpus-keyed exchange
    left in the whole pair detection is the prefix-shingle candidate
    join itself; the exploded form additionally paid the ranking
    window's Exchange+sort, a full-table sizes groupBy, and the
    shingle-keyed intersection join + pair groupBy.  The array table
    is checkpointed once (three consumers: prefix + both verify
    sides) and holds one row per doc instead of one per shingle.
    """
    arrs = materialize_instance_sized(arrs)
    cand = prefix_filter_candidates_arrays(arrs, id_col, threshold)
    return verify_pairs_arrays(arrs, cand, id_col, threshold)


def jaccard_pairs_prefix(
    shingles: DataFrame, id_col: str, threshold: float, checkpoint: bool = True
) -> DataFrame:
    """All doc pairs with shingle Jaccard ≥ ``threshold`` — the scale
    path: prefix-filtered candidate generation + exact verification.
    Result-identical to ``jaccard_pairs`` (the brute inverted-index
    form), which serves as its oracle.

    The shingle set feeds five consumers (prefix ranking windows,
    sizes, both verify sides); ``localCheckpoint`` materializes the
    expensive extraction once instead of re-running it per consumer —
    the multi-consumer-intermediate discipline any iterative/fan-out
    plan needs at scale.

    KEPT EXPLODED on purpose (r20): callers holding per-doc texts use
    :func:`jaccard_pairs_prefix_arrays`; this form stays for inputs
    that are ALREADY exploded (the persisted shingle index store of
    ``indexed_cc_refresh``).  A ``collect_list``-to-arrays bridge was
    A/B-probed at sf0.1 and REGRESSED (+41% on indexed_cc_refresh):
    rebuilding arrays pays the id-keyed exchange the ranking window
    paid AND re-explodes per consumer — measure before shuffling less.

    ``checkpoint=False`` (r21) is for callers whose ``shingles`` is
    already a materialization barrier — a store scan: re-scanning a
    pruned 2-column parquet store per consumer measured NEUTRAL at
    sf0.1 vs the localCheckpoint, and for a BUCKETED store scan the
    checkpoint is actively harmful — it replaces the scan with a
    LogicalRDD and the planner forgets the bucket partitioning, so
    the ranking window / sizes / verify joins re-gain the 4 exchanges
    the bucketed layout removes.  Keep the default for computed
    inputs: without the barrier each of the 4 consumers re-runs the
    whole upstream extraction.
    """
    if checkpoint:
        shingles = materialize_instance_sized(shingles)
    cand = prefix_filter_candidates(shingles, id_col, threshold)
    return verify_pairs(shingles, cand, id_col, threshold)


def jaccard_pairs_delta(
    shingles: DataFrame,
    id_col: str,
    threshold: float,
    delta_ids: DataFrame,
) -> DataFrame:
    """Near-dup pairs TOUCHING a delta only — the incremental form a
    periodically-updated corpus runs: base×base pairs were found by
    prior runs and are never recomputed; the probe side of the
    inverted-index join is restricted to delta docs BEFORE the
    shuffle, so join cost is O(delta activity), not O(corpus²).

    ``delta_ids`` is a single-column DataFrame of ``id_col`` values.
    Each qualifying pair is emitted exactly once via the flag rule:
    probe p pairs with index doc i when ``p < i``, or when ``p > i``
    and i is NOT itself in the delta (a delta×delta pair would
    otherwise be found from both probe directions).  Returns the same
    ``(id_a, id_b, n_shared, n_a, n_b, jaccard)`` contract as
    :func:`jaccard_pairs` restricted to pairs with a delta member.

    KEPT EXPLODED on purpose (r20): an array-form rewrite (candidate
    distinct + row-local ``array_intersect`` verify) was A/B-probed at
    sf0.1 and REGRESSED 2.5-3.5× (delta_dedup_pairs 1.27s → 4.44s) —
    here the candidate join's ``groupBy(id_a, id_b).count()`` gets the
    intersection counts as a near-free partial aggregate of rows the
    join already produced, while the array form re-attaches two full
    shingle arrays per candidate pair.  Exploded + counted beats
    shuffle-avoiding when the aggregate rides an existing shuffle.
    """
    shingles = materialize_instance_sized(shingles)  # sizes + index + probe read it
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    marked = delta_ids.select(F.col(id_col)).withColumn("__d", F.lit(True))
    flagged = shingles.join(marked, id_col, "left").select(
        F.col(id_col), "shingle", F.coalesce("__d", F.lit(False)).alias("__d")
    )
    probe = flagged.where(F.col("__d")).select(
        F.col(id_col).alias("id_p"), "shingle"
    )
    index = flagged.select(
        F.col(id_col).alias("id_i"), "shingle", F.col("__d").alias("__d_i")
    )
    shared = (
        probe.join(index, "shingle")
        .where(
            (F.col("id_p") < F.col("id_i"))
            | ((F.col("id_p") > F.col("id_i")) & (~F.col("__d_i")))
        )
        .select(
            F.least("id_p", "id_i").alias("id_a"),
            F.greatest("id_p", "id_i").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", "n_shared", "n_a", "n_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str,
    threshold: float,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All doc pairs with shingle-set Jaccard ≥ ``threshold``.

    Inverted-index join: pairs are generated per shared shingle and
    counted — never a full cross join.  ``max_shingle_df`` optionally
    drops shingles appearing in more than that many docs (stop-shingle
    pruning; biases Jaccard low for pruned pairs, standard at scale).

    Returns ``(id_a, id_b, n_shared, n_a, n_b, jaccard)`` with
    ``id_a < id_b``; jaccard is one exact division of exact ints.
    """
    if max_shingle_df is not None:
        keep = (
            shingles.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        shingles = shingles.join(keep, "shingle", "left_semi")

    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", "n_shared", "n_a", "n_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    checkpoint: bool = True,
    carry_shingles: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shingle table + MinHash signatures — the shared front of every
    MinHash consumer (``minhash_lsh_pairs`` and the registry's
    estimator-calibration query), factored so the LSH family can never
    drift between the stage operator and the query that certifies it.

    Returns ``(sh, sig)``: ``sh`` is the CHECKPOINTED per-doc DISTINCT
    shingle array (materialized once — it feeds both the signature path
    and exact verification; without the checkpoint each consumer
    re-runs tokenize+shingle over the corpus), ``sig`` is one row per
    doc with columns ``h0..h{num_hashes-1}``.

    ``sh`` is deduplicated at the source (r20 optimization): MinHash
    minima are identical over a multiset and its underlying set, and
    every verification consumer needs the DISTINCT set anyway — so the
    array_distinct runs once here, the checkpoint materializes fewer
    elements, and the per-shingle md5 + 16 rotation passes downstream
    hash ~10-20% fewer elements for identical output.

    ``checkpoint=False`` skips the localCheckpoint — the ONLY piece a
    STREAMING plan cannot take — and exists for streaming callers.
    A BATCH caller must keep the default: the checkpoint is the
    recompute barrier for every consumer of ``sh``/``sig``, and
    skipping it silently re-runs tokenize+shingle per consumer — a
    cost regression no test catches.  Pass False from a batch plan
    only when it provably consumes the result exactly once (and say
    so at the call site).

    ``carry_shingles=True`` threads the ``sh`` array through ``sig``
    as an extra column (r20): a caller that verifies candidate pairs
    against the shingle sets AND reads the signature vectors (the
    estimator-calibration query) can then checkpoint ONE table holding
    both instead of two, and attach both to each pair side with one
    join instead of two.
    """
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    sh = toks.select(
        F.col(id_col),
        F.array_distinct(word_shingles(F.col("__toks"), shingle_n)).alias("sh"),
    )
    if checkpoint:
        sh = materialize_instance_sized(sh)
    # The empty-set filter goes AFTER the barrier: above an unmaterialized
    # projection Catalyst pushes it below the caller's round-robin
    # Exchange (``scatter``), where it inlines the whole shingle
    # expression into the scan stage — shingling ran twice, the first
    # time in the scan's single task.
    sh = sh.where("size(sh) > 0")
    carry = ["sh"] if carry_shingles else []
    # Generate barrier so the per-shingle md5 runs once, not once per
    # seed (CollapseProject would re-inline a projected array into all
    # num_hashes transform passes).
    hashed = sh.select(
        F.col(id_col),
        *carry,
        F.explode(F.array(minhash_hashes(F.col("sh")))).alias("__hs"),
    )
    sig = hashed.select(F.col(id_col), *carry, *minhash_signature("__hs", num_hashes))
    return sh, sig


def minhash_band_table(
    sig: DataFrame,
    id_col: str,
    num_hashes: int,
    band_rows: int,
) -> DataFrame:
    """The banded-signature INDEX rows: one ``(id, band, key)`` row per
    (doc, band), key = '|'-concat of the band's signature rows.  This
    is the table an incremental dedup job PERSISTS between runs (the
    signature store): signatures are computed once per doc at ingest,
    and a later batch probes the stored bands without re-shingling or
    re-signing the corpus.  Row-local explode — no shuffle; the band
    count is num_hashes/band_rows per doc.  Built as SQL text in one
    projection (``inline`` unpacks the band structs): one py4j call and
    one analysis instead of several per band."""
    bands = ", ".join(
        "named_struct('band', {}, 'key', concat_ws('|', {}))".format(
            b, ", ".join(f"h{b * band_rows + r}" for r in range(band_rows))
        )
        for b in range(num_hashes // band_rows)
    )
    return sig.selectExpr(f"`{id_col}`", f"inline(array({bands}))")


def minhash_band_candidates(
    sig: DataFrame,
    id_col: str,
    num_hashes: int,
    band_rows: int,
    salt_groups: int = 1,
    max_band_rows: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs ``(id_a, id_b)``, ``id_a < id_b``, from
    banded signatures: band key = concat of the band's rows; docs
    colliding in ANY band become candidates (one shuffle on the band
    key).

    Hot-band control — a DEGENERATE band key (thousands of
    near-identical docs, routine in real crawl data) makes the band
    self-join emit m² candidate rows in one task.  Two independent
    knobs, mirroring ``similarity.bucket_near_dup``:

    * ``salt_groups`` (exact): salt-cell decomposition of each band
      key's pair space (``operators/salting.py``) — result-identical
      at any G, hot-band work spread over G(G+1)/2 tasks.
    * ``max_band_rows`` (bounded approximation): deterministically
      keep only the first m rows per band key (hash(id) order, id
      tiebreak), capping candidates at m·(m-1)/2 per band.  Identical
      docs collide in EVERY band, and each band draws an independent
      hash-ordered subset, so true duplicate clusters still surface;
      ``None`` keeps exact semantics.
    """
    from myfitnesspaw_spark.operators.salting import (
        CELL_COL,
        SALT_COL,
        canonical_cell_pred,
        with_salt_cells,
    )
    bands = minhash_band_table(sig, id_col, num_hashes, band_rows)

    if max_band_rows is not None:
        w = Window.partitionBy("band", "key").orderBy(
            F.hash(F.col(id_col)).asc(), F.col(id_col).asc()
        )
        bands = (
            bands.withColumn("__bn", F.row_number().over(w))
            .where(F.col("__bn") <= max_band_rows)
            .drop("__bn")
        )
    if salt_groups > 1:
        cells = with_salt_cells(bands, id_col, salt_groups)
        left = cells.select(
            F.col(id_col).alias("id_a"),
            F.col(SALT_COL).alias("__salt_a"),
            "band",
            "key",
            CELL_COL,
        )
        right = cells.select(
            F.col(id_col).alias("id_b"),
            F.col(SALT_COL).alias("__salt_b"),
            "band",
            "key",
            CELL_COL,
        )
        paired = left.join(right, ["band", "key", CELL_COL]).where(
            canonical_cell_pred()
        )
    else:
        left = bands.selectExpr(f"`{id_col}` AS id_a", "band", "key")
        right = bands.selectExpr(f"`{id_col}` AS id_b", "band", "key")
        paired = left.join(right, ["band", "key"])
    # A fixed-count hash repartition (REPARTITION_BY_NUM) ahead of the
    # distinct: AQE never coalesces it, so the candidate list stays
    # spread over every core for verification (a plain distinct's
    # shuffle is coalesced to ONE partition at small scale, and the
    # per-pair array_intersect then ran in one task).  The aggregate
    # reuses this partitioning: no exchange is added.  The price: the
    # distinct's partial aggregate now runs after the exchange, so a
    # pair colliding in k bands crosses it k times (perfbench corpus:
    # 108k rows for 16k pairs, 192 vs 121 KB; with 400 identical docs
    # added, 841k vs 120k rows, 1.07 vs 0.78 MB).  Deduplicating first
    # does not pay: Spark drops ``distinct().repartition(n, "id_a",
    # "id_b")``'s repartition (its child is already partitioned that
    # way) and AQE coalesces the distinct again (hot-band candidates
    # plus verification, 4 cores: 1.05 -> 2.20 s); repartitioning the
    # distinct output on ``id_a`` alone shuffles the pairs twice in one
    # more job, more bytes than the duplicates cost.
    n = int(sig.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        paired.where("id_a < id_b")
        .select("id_a", "id_b")
        .repartition(n, "id_a", "id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    band_rows: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.8,
    salt_groups: int = 1,
    max_band_rows: int | None = None,
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH + exact verification.

    1. signature: per doc, md5 each shingle ONCE, then ``num_hashes``
       minima under hex-rotation orderings (array-level transforms —
       no per-hash shuffle, no per-seed re-hash) —
       ``minhash_signatures``;
    2. banding: docs colliding in ANY band become candidates, with
       salt-cell / band-cap hot-band controls —
       ``minhash_band_candidates``;
    3. verification: exact shingle Jaccard ≥ ``threshold`` on the
       candidate pairs only — ``verify_pairs_arrays`` over the already-
       checkpointed distinct shingle arrays (r20: the exploded-table
       checkpoint + shingle-keyed count join this used to run are
       replaced by two candidate-bounded joins + a row-local
       ``array_intersect`` — one fewer materialization job and two
       fewer corpus-sized exchanges, A/B-verified result-identical).

    Returns ``(id_a, id_b, jaccard)``.
    """
    sh, sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    # Checkpointed (r20 wave 2): the band self-join reads the signature
    # table from BOTH sides, and at bench scale one side is a
    # BroadcastExchange — no ReusedExchange can fire across a broadcast
    # + stream pair, so the 16-rotation minhash fold ran TWICE over the
    # corpus.  The signature table is num_hashes longs per doc (tiny);
    # materializing it once costs one short job and halves the fold.
    sig = sig.localCheckpoint()
    candidates = minhash_band_candidates(
        sig, id_col, num_hashes, band_rows, salt_groups, max_band_rows
    )
    verified = verify_pairs_arrays(sh, candidates, id_col, threshold)
    return verified.select("id_a", "id_b", "jaccard")


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash per doc from count-weighted token bit votes.

    Explode to (doc, token, count), then for each bit sum
    ``count × (±1 from md5 nibble)`` and set the bit on a positive
    vote — all exact integer arithmetic, grouped on the doc id.
    Returns ``(id_col, simhash)``.
    """
    # Entirely ROW-LOCAL — zero shuffles: a ±1 vote per token
    # OCCURRENCE sums to exactly the count-weighted vote per distinct
    # token, so the whole fingerprint is 32 in-row folds over the
    # doc's token-hash array.  (The earlier two-shuffle form — groupBy
    # (doc, hash) counts, then groupBy doc vote sums — moved the full
    # token multiset across the cluster twice for the same numbers.)
    #
    # The md5 array is materialized through explode(array(...)) — a
    # Generate node — because CollapseProject would re-inline a merely
    # projected array into all 32 fold lambdas, re-hashing every token
    # 32× (the standard HOF-capture trap, measured elsewhere in this
    # package).
    hashed = df.select(
        F.col(id_col),
        F.explode(
            F.array(F.transform(tokens(F.col(text_col)), lambda t: F.md5(t)))
        ).alias("__hs"),
    )
    # All 32 bit votes fold in ONE traversal of the token-hash array
    # (32-wide accumulator zip_with'd per element) instead of 32
    # separate folds; the 32 element_at references to the fold share
    # one evaluation via codegen subexpression elimination — the same
    # measured-faster discipline as minhash_signature.
    idx = F.array(*[F.lit(i) for i in range(SIMHASH_BITS)])
    high = ("8", "9", "a", "b", "c", "d", "e", "f")
    votes_arr = F.aggregate(
        F.col("__hs"),
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            idx,
            lambda a, i: a
            + F.when(F.substr(h, i + 1, F.lit(1)).isin(*high), F.lit(1)).otherwise(
                F.lit(-1)
            ),
        ),
    )
    votes = hashed.select(
        F.col(id_col),
        *[F.element_at(votes_arr, i + 1).alias(f"v{i}") for i in range(SIMHASH_BITS)],
    )
    fingerprint = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return votes.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs whose SimHash Hamming distance ≤ ``max_hamming``.

    Banded: the 32-bit fingerprint splits into 4 bytes; with distance
    ≤ 3 the pigeonhole principle guarantees at least one identical
    byte, so candidates are generated by a shuffle join on
    ``(band, byte)`` — never all pairs — then exact ``bit_count(xor)``
    filters.  Returns ``(id_a, id_b, hamming)``.
    """
    # Checkpointed (r20 wave 2): the byte-band self-join reads the
    # fingerprint table from both sides, and with one side broadcast no
    # ReusedExchange can dedup them — the md5 + 32-wide vote fold (the
    # dominant per-row cost of this operator) ran TWICE over the
    # corpus.  One (id, simhash) row per doc, so the materialization is
    # a short job against a halved fingerprint pass.
    fp = simhash_fingerprints(df, id_col, text_col).localCheckpoint()
    bands = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(F.lit(255)).alias("byte"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.band", "bk.byte")

    left = bands.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "band", "byte")
    right = bands.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "band", "byte")
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        left.join(right, ["band", "byte"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    stats: dict | None = None,
    driver_max_edges: int = CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """Connected components over an undirected pair graph — the
    cluster-assignment step after near-dup pair detection (each
    cluster keeps one canonical doc).  Returns ``(node, cluster)`` with
    cluster = min reachable node id.

    ``stats`` (optional out-param, same contract as
    ``connected_components_star``): receives ``{"rounds": n}`` — the
    input for rounds-vs-size scaling probes (hash-min converges in
    O(diameter) rounds).

    The edges are materialized once, and their count is observed inside
    that same job.  A graph of at most ``driver_max_edges`` edges
    (default :data:`CC_DRIVER_MAX_EDGES`, where the measured crossover
    lies) with integer ids and no null endpoint is labeled on the
    driver (:func:`_driver_min_labels`) and returned as a
    ``LocalRelation``: a Spark round is a join, an aggregate and a
    checkpoint job, while the numpy passes over the 15k-edge perfbench
    corpus graph take milliseconds.  ``rounds`` then counts the numpy
    passes.  The driver path always runs to its fixed point;
    ``max_iter`` caps only the Spark rounds.  ``driver_max_edges=0``
    forces the Spark rounds (the rounds-vs-size probe times them).

    Larger graphs run hash-min label propagation in Spark: every node
    starts labeled with itself; each iteration joins labels across
    edges and keeps the minimum; convergence in O(graph diameter)
    rounds.  Iterative algorithms on Spark need two disciplines, both
    applied here: ``localCheckpoint`` per round (truncates the
    exponentially-growing lineage) and a cheap scalar convergence probe
    (a LIMIT-1 anti-check, not a full diff materialization).

    r20 optimization: the per-round convergence sum rides the SAME job
    as the round's localCheckpoint via ``observe`` — CollectMetrics
    fires during the checkpoint materialization, so the loop runs ONE
    job per round instead of two.  One fewer driver round-trip per
    iteration is pure latency at any scale; the metric value is
    identical to the separate aggregate it replaces.

    The rounds run at the session's ``spark.sql.shuffle.partitions``;
    AQE partition coalescing (on in ``session.get_spark``) shrinks the
    shuffles of a small graph.  Query code never changes session conf:
    other threads of the same session read it.
    """
    # ONE materialization of the (possibly expensive) upstream pair
    # detection BEFORE the symmetrize union: a union of two selects
    # over an unmaterialized plan executes that plan once per branch —
    # checkpointing the union instead of the edges ran the whole
    # upstream detection twice.
    ob = Observation()
    edges = edges.observe(ob, F.count(F.lit(1)).alias("n")).localCheckpoint()
    if ob.get["n"] <= driver_max_edges:
        labels = _cc_on_driver(edges, id_a, id_b, stats)
        if labels is not None:
            return labels
    sym = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).union(
        edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    labels = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    prev_sum: int | None = None
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nbr = (
            sym.join(labels, sym.src == labels.node)
            .groupBy("dst")
            .agg(F.min("lbl").alias("nlbl"))
        )
        # Labels only ever decrease, so Σlbl is a convergence
        # witness — one scalar aggregate instead of a join-diff,
        # observed inside the checkpoint job itself.
        ob = Observation()
        labels = (
            labels.join(nbr, labels.node == nbr.dst, "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl"),
            )
            .observe(ob, F.sum("lbl").alias("s"))
            .localCheckpoint()
        )
        cur_sum = ob.get["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select("node", F.col("lbl").alias("cluster"))


def _cc_on_driver(
    edges: DataFrame, id_a: str, id_b: str, stats: dict | None
) -> DataFrame | None:
    """:func:`connected_components` of the materialized ``edges``,
    labeled on the driver and returned as a ``LocalRelation`` of the id
    type; None when the two id columns are not one integer type or an
    endpoint is null (the Spark rounds handle those)."""
    ids = edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    schema = ids.schema
    id_type = schema["a"].dataType
    if not isinstance(id_type, T.IntegralType) or schema["b"].dataType != id_type:
        return None
    table = ids.toArrow()
    if table["a"].null_count or table["b"].null_count:
        return None
    nodes, cluster, rounds = _driver_min_labels(table["a"].to_numpy(), table["b"].to_numpy())
    if stats is not None:
        stats["rounds"] = rounds
    arrow_type = table.schema.field("a").type
    return create_frame(
        edges.sparkSession,
        pa.table({"node": pa.array(nodes, arrow_type), "cluster": pa.array(cluster, arrow_type)}),
        T.StructType([T.StructField("node", id_type), T.StructField("cluster", id_type)]),
    )


def _driver_min_labels(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray, int]:
    """Min-id component labels of the edges ``a[i]—b[i]``, in numpy:
    ``(nodes, cluster, passes)`` with ``nodes`` sorted and
    ``cluster[i]`` the least node connected to ``nodes[i]``.

    Nodes map to dense ranks (``np.unique``, so a smaller rank is a
    smaller id).  Each pass lowers every label to its neighbours' least
    label in both edge directions (``np.minimum.at``), then follows
    labels to their root (pointer jumping, ``lbl = lbl[lbl]``); a label
    is always a node of the same component with a rank no larger than
    its own, so the passes end at the component minimum.  The last
    pass is the one that changes nothing."""
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = inv[: len(a)], inv[len(a) :]
    lbl = np.arange(len(nodes))
    passes = 0
    while True:
        passes += 1
        nxt = lbl.copy()
        np.minimum.at(nxt, ia, lbl[ib])
        np.minimum.at(nxt, ib, lbl[ia])
        while True:
            jumped = nxt[nxt]
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        if np.array_equal(nxt, lbl):
            return nodes, nodes[lbl], passes
        lbl = nxt


def connected_components_star(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 15,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the low-round-count alternative to hash-min label
    propagation in :func:`connected_components`.

    Hash-min converges in O(graph diameter) rounds, which on a chain-
    or path-shaped near-dup graph (common when documents form edit
    chains) means one shuffle round per hop.  The star algorithm
    contracts the graph toward per-component stars centered at the
    minimum node id and converges in O(log^2 n) rounds regardless of
    diameter — at 100 TB the round count, not the per-round shuffle,
    is the wall-clock driver, so this is the scale path.  The hash-min
    form stays as the semantically-obvious oracle twin.

    Edges are kept directed large→small (``u > v``) between phases:

    * large-star(u): over the full neighborhood Γ(u), let
      m = min(Γ(u) ∪ {u}); emit (v, m) for every neighbor v > u.
    * small-star(u): over the smaller neighbors only, let m = min;
      re-point every other smaller neighbor and u itself at m.

    Both phases are one groupBy-min plus one join — no state beyond
    the edge set itself, ``localCheckpoint`` per round truncates the
    iterative lineage, and convergence is a 3-scalar probe (count +
    endpoint sums, monotone under contraction) rather than a join-diff.
    Returns ``(node, cluster)`` with cluster = min reachable node id,
    exactly :func:`connected_components`'s contract.
    """
    e = (
        edges.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def _large_star(d: DataFrame) -> DataFrame:
        sym = d.union(d.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        )
        return (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _small_star(d: DataFrame) -> DataFrame:
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        j = d.join(mins, "u")
        moved = j.where(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        centers = mins.select("u", F.col("m").alias("v"))
        return moved.union(centers).distinct()

    prev: tuple | None = None
    rounds = 0
    converged = False
    for _ in range(max_iter):
        # Fixed-point witness: count + endpoint sums + an order-
        # insensitive content hash of the edge multiset — one
        # scalar aggregate per round, no join-diff materialization,
        # observed inside the checkpoint job itself (r20: one job
        # per round instead of two).
        ob = Observation()
        e = (
            _small_star(_large_star(e))
            .observe(
                ob,
                F.count(F.lit(1)).alias("n"),
                F.sum("u").alias("su"),
                F.sum("v").alias("sv"),
                F.sum(F.hash("u", "v").cast("long")).alias("sh"),
            )
            .localCheckpoint()
        )
        rounds += 1
        m = ob.get
        cur = (m["n"], m["su"], m["sv"], m["sh"])
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # Exhausting max_iter without the witness matching means the
        # final labels may not be component minima; say so instead of
        # returning silently-truncated output.
        warnings.warn(
            f"connected_components_star: no fixed point after {rounds} "
            f"rounds (max_iter={max_iter}); labels may be incomplete — "
            "raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged

    # At the fixed point every edge points straight at its component's
    # minimum node; centers label themselves.
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("cluster"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("cluster")))
        .groupBy("node")
        .agg(F.min("cluster").alias("cluster"))
    )


def topk_per_key(df: DataFrame, key_cols: list[str], order_cols: list, k: int) -> DataFrame:
    """row_number top-K helper shared by similarity search."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
