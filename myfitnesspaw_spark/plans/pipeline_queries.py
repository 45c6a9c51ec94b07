"""Training-data pipeline operators, round 5 depth set.

The corpus-preparation steps between curation and the data loader that
the existing suite did not yet cover: retrieval chunking, mixture
balancing, n-gram LM scoring, semantic (embedding-cluster) dedup and
signed-random-projection LSH.  Reference provenance: none of these
exist in the reference repo (a single-user ETL) — they come from the
LLM-data-pipeline brief and follow the same contract as every other
registered query: a Spark plan plus an exact DuckDB oracle twin.

Cross-engine determinism rules (see functions/text.py): integer
arithmetic everywhere a group-order-dependent float SUM could creep
in; float ops only as a single fixed-order fold (the cosine helpers)
or a final one-shot division; md5 for anything hash-shaped.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from myfitnesspaw_spark.functions.text import normalize_text, tokens
from myfitnesspaw_spark.sources import load_table, scatter

# DuckDB-side token pipeline — identical to curation_queries._WORDS.
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_WORDS = f"string_split({_NORM}, ' ')"


# --- doc_chunk_overlap ----------------------------------------------------
# Retrieval (RAG) chunking: fixed-size token windows with overlap —
# the step that turns a curated corpus into an embedding-index input.
# Chunk starts are 1, 1+stride, … while start ≤ n_tokens, so every
# token lands in ⌈size/stride⌉ chunks and consecutive chunks share
# (size - stride) tokens of context.
#
# Scale shape: pure row-local projection — sequence + posexplode +
# slice ride into the parquet scan with zero shuffle; output hash
# (md5 of the joined chunk) pins the exact chunk CONTENT, not just
# its boundaries, so the oracle certifies the text reassembly too.

CHUNK_SIZE = 40
CHUNK_STRIDE = 30


def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scatter(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", tokens(F.col("text")).alias("w"))
    starts = F.sequence(F.lit(1), F.size("w"), F.lit(CHUNK_STRIDE))
    exploded = toks.select(
        "doc_id", "w", F.posexplode(starts).alias("chunk_idx", "start_tok")
    )
    chunk = F.slice(F.col("w"), F.col("start_tok"), CHUNK_SIZE)
    return exploded.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.size(chunk).alias("chunk_len"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


DOC_CHUNK_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_WORDS} AS w FROM documents),
starts AS (
  SELECT doc_id, w,
         CAST(unnest(generate_series(1, len(w), {CHUNK_STRIDE})) AS BIGINT)
           AS start_tok
  FROM toks
)
SELECT doc_id, CAST((start_tok - 1) // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       start_tok,
       CAST(len(list_slice(w, start_tok, start_tok + {CHUNK_SIZE} - 1)) AS INT)
         AS chunk_len,
       md5(array_to_string(
             list_slice(w, start_tok, start_tok + {CHUNK_SIZE} - 1), ' '))
         AS chunk_md5
FROM starts
"""


# --- mixture_sample -------------------------------------------------------
# Data-mixture balancing: given target per-source weights, find the
# largest total sample the corpus can support without exceeding any
# source's supply (N = min over s of n_s·DEN ÷ w_s, all integer), take
# quota_s = w_s·N ÷ DEN docs from each source, selected by md5(doc_id)
# rank so the draw is deterministic and re-run stable.
#
# Scale shape: the per-source counts are one map-side-combined
# aggregate (20 rows); N is a 1-row aggregate of that, broadcast back
# (BroadcastNestedLoopJoin on a literal-true condition — bounded by
# design).  The rank window partitions by source — never global —
# and the verification digest sorts ids inside collect_list, so the
# output is shuffle-arrival independent.

MIX_DEN = 100


def _mix_weight_expr(src_col: str) -> str:
    """Weight per source: 10 + 20·(src_num mod 5) — spans 10..90 so
    quotas genuinely differ across sources (SQL, both engines)."""
    return f"10 + 20 * (CAST(regexp_extract({src_col}, '[0-9]+', 0) AS BIGINT) % 5)"


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scatter(load_table(spark, sf_dir, "documents"))
    weighted = docs.withColumn("w8", F.expr(_mix_weight_expr("source")))
    counts = weighted.groupBy("source", "w8").agg(F.count(F.lit(1)).alias("n_avail"))
    # Largest supportable total (integer units): N = min(n_s*DEN DIV w_s).
    n_total = counts.agg(
        F.min(F.expr(f"n_avail * {MIX_DEN} DIV w8")).alias("n_units")
    )
    quotas = counts.crossJoin(F.broadcast(n_total)).withColumn(
        "quota", F.expr(f"w8 * n_units DIV {MIX_DEN}")
    )
    ranked = weighted.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
            )
        ),
    )
    kept = ranked.join(
        F.broadcast(quotas.select("source", "quota", "n_avail")), "source"
    ).where(F.col("rk") <= F.col("quota"))
    return kept.groupBy("source").agg(
        F.max("n_avail").alias("n_avail"),
        F.max("quota").alias("quota"),
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list(F.col("doc_id").cast("string"))), ",")
        ).alias("kept_md5"),
    )


MIXTURE_SAMPLE_ORACLE = f"""
WITH weighted AS (
  SELECT doc_id, source, {_mix_weight_expr("source")} AS w8 FROM documents
),
counts AS (
  SELECT source, w8, COUNT(*) AS n_avail FROM weighted GROUP BY 1, 2
),
n_total AS (
  SELECT MIN(n_avail * {MIX_DEN} // w8) AS n_units FROM counts
),
quotas AS (
  SELECT source, n_avail, w8 * n_units // {MIX_DEN} AS quota
  FROM counts CROSS JOIN n_total
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM weighted
),
kept AS (
  SELECT r.source, q.n_avail, q.quota, r.doc_id
  FROM ranked r JOIN quotas q USING (source)
  WHERE r.rk <= q.quota
)
SELECT source, MAX(n_avail) AS n_avail, MAX(quota) AS quota,
       COUNT(*) AS n_kept,
       md5(array_to_string(list_sort(list(CAST(doc_id AS VARCHAR))), ','))
         AS kept_md5
FROM kept GROUP BY source
"""

# --- bigram_lm_score ------------------------------------------------------
# N-gram language-model quality scoring — the perplexity-bucket filter
# every curation pipeline runs, with the LM trained on the corpus
# itself in the same job.  Per-bigram conditional "probability"
# surrogate: units(w1 w2) = c(w1 w2)·10⁶ ÷ c_first(w1), exact integer
# arithmetic (a float Σ of real log-probs is group-order-dependent
# cross-engine; the integer surrogate ranks documents identically for
# a fixed corpus).  Document score = Σ units over its bigram
# instances, plus the per-bigram mean as one final float division.
#
# Scale shape: train = one map-side-combined count shuffle on the
# bigram key + a vocabulary-sized rollup for the first-token
# denominators (co-shuffled join on w1); apply = the doc-bigram table
# re-joined to the model on the same bigram key and summed per doc.
# No Python, no collect; the model table is vocabulary-sized, never
# corpus-sized.

LM_SCALE = 1_000_000


def _bigram_list(w):
    """Bigram strings 'w[i] w[i+1]' via zip_with over shifted slices —
    empty (not an error) for docs with < 2 tokens."""
    n = F.size(w)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(w, 1, n - 1),
            F.slice(w, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scatter(load_table(spark, sf_dir, "documents"))
    inst = docs.select(
        "doc_id", F.explode(_bigram_list(tokens(F.col("text")))).alias("bigram")
    )
    big_counts = inst.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_big"))
    first_counts = (
        big_counts.withColumn("w1", F.substring_index("bigram", " ", 1))
        .groupBy("w1")
        .agg(F.sum("c_big").alias("c_first"))
    )
    model = big_counts.withColumn(
        "w1", F.substring_index("bigram", " ", 1)
    ).join(first_counts, "w1").select(
        "bigram", F.expr(f"c_big * {LM_SCALE} DIV c_first").alias("units")
    )
    scored = inst.join(model, "bigram").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("units").alias("lm_units"),
    )
    # avg probability in exact integer micro-units: ROUND(x, 6) on a
    # double quotient rounds via BigDecimal HALF_UP in Spark but in
    # floating point in DuckDB — a boundary-landing quotient can flip
    # the last digit and flake the hash gate (ADVICE r5).  Integer DIV
    # is bit-identical in both engines; per-doc operands stay far
    # under 2^63 (lm_units ≤ n_bigrams × LM_SCALE).
    return scored.select(
        "doc_id",
        "n_bigrams",
        "lm_units",
        F.expr(f"lm_units * 1000000 DIV (n_bigrams * {LM_SCALE})").alias(
            "avg_p_micro"
        ),
    )


BIGRAM_LM_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_WORDS} AS w FROM documents),
inst AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i + 1])) AS bigram
  FROM toks WHERE len(w) >= 2
),
big_counts AS (SELECT bigram, COUNT(*) AS c_big FROM inst GROUP BY bigram),
first_counts AS (
  SELECT string_split(bigram, ' ')[1] AS w1, SUM(c_big) AS c_first
  FROM big_counts GROUP BY 1
),
model AS (
  SELECT b.bigram, b.c_big * {LM_SCALE} // f.c_first AS units
  FROM big_counts b JOIN first_counts f
    ON string_split(b.bigram, ' ')[1] = f.w1
)
SELECT i.doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(m.units) AS BIGINT) AS lm_units,
       CAST(SUM(m.units) * 1000000 // (COUNT(*) * {LM_SCALE}) AS BIGINT)
         AS avg_p_micro
FROM inst i JOIN model m USING (bigram)
GROUP BY i.doc_id
"""

# --- semantic_dedup -------------------------------------------------------
# SemDeDup (Abbas et al. 2023): cluster the embedding space with a
# coarse quantizer, then near-duplicate ONLY within clusters and drop
# every non-canonical member (survivor = lowest id of each qualifying
# pair).  This differs from embedding_near_dup in that the bucket is
# LEARNED from the vectors (nearest-centroid assignment) rather than a
# given label column — the actual cluster→dedup pipeline shape.
#
# Scale shape: assignment is a shuffle-free projection over broadcast
# centroid literals (operators/similarity.py::ivf_coarse_assign); the
# within-cluster pair join shuffles on the learned cluster key with
# the same salting/cap escape hatches as bucket_near_dup; the drop
# set is one map-side-combined aggregate over qualifying pairs.
# Σ cluster² replaces N², exactly as in the paper.
#
# CLUSTER COUNT IS THE QUADRATIC-CONTROL KNOB: with NC fixed, cluster
# sizes grow ∝ N and the within-cluster pair space grows N²/NC (the
# K=8 probe measures 7.8× time for 8× data against that 64× pair
# space).  Production SemDeDup scales NC ∝ N / target_cluster_size
# (the paper runs ~100k clusters); this query pins NC so the oracle
# is reproducible, and bucket_near_dup's ``max_bucket`` cap is the
# bounded-work escape hatch when a deployment can't rescale NC.

SEMDEDUP_NC = 12
SEMDEDUP_THRESHOLD = 0.45


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myfitnesspaw_spark.operators.similarity import (
        bucket_near_dup,
        ivf_coarse_assign,
    )

    vecs = scatter(load_table(spark, sf_dir, "embeddings"))
    copies = vecs.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    corpus = vecs.select("vec_id", "embedding").unionByName(copies)
    # Coarse quantizer = the SEMDEDUP_NC lowest-id base vectors —
    # driver-side by design (every clustered-dedup index build
    # collects its K centroids once), re-broadcast as literals.
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in vecs.where(F.col("vec_id") < SEMDEDUP_NC).collect()
    ]
    from myfitnesspaw_spark.sources import sf_is_small

    # Materialized ONCE (r20 session 4), same rationale as the kpp
    # variant below: the within-cluster pair self-join reads the
    # assignment from BOTH sides, and with one side behind a
    # BroadcastExchange no ReusedExchange can dedup them — without the
    # checkpoint each side re-runs the scan + union + NC-cosine
    # quantizer (the before plan shows the whole corpus subtree twice).
    # The checkpoint also truncates lineage BELOW the pair join, which
    # sidesteps a Spark 4.1 constraint-propagation crash this query is
    # exposed to without it: the quantizer's zip_with/aggregate cluster
    # expression becomes a join-key filter that the optimizer pushes
    # through the self-union, and Union.rewriteConstraints then dies
    # with "key not found: embedding#N" for some exprId layouts
    # (reproduced deterministically at sf0.1 after a particular
    # sequence of earlier queries in one session; layout-dependent, so
    # other session histories dodge it by luck).  Pinned by
    # tests/test_plans.py::test_semantic_dedup_single_quantizer_pass.
    assigned = ivf_coarse_assign(
        corpus, "embedding", cents, out_col="cluster_id"
    ).localCheckpoint()
    # Scale-aware hot-bucket salting (result-identical at any G): with
    # NC pinned, the within-cluster self-join has only NC distinct
    # keys — at bench scale one side auto-broadcasts and the work is
    # data-parallel anyway, but past the broadcast threshold a shuffle
    # join would collapse onto NC tasks; the salt-cell decomposition
    # spreads each cluster's quadratic pair space over G(G+1)/2 cells.
    pairs = bucket_near_dup(
        assigned, "vec_id", "embedding", "cluster_id", SEMDEDUP_THRESHOLD,
        salt_groups=1 if sf_is_small(sf_dir) else 4,
    )
    # Drop rule: any id that appears as the LARGER side of a
    # qualifying pair; witness = its smallest lower-id near-dup.
    return pairs.groupBy(F.col("id_b").alias("dropped_id")).agg(
        F.max("bucket").alias("cluster_id"),
        F.min("id_a").alias("witness_id"),
        F.min_by("cos", "id_a").alias("witness_cos"),
        F.count(F.lit(1)).alias("n_witnesses"),
    )


def _semdedup_oracle() -> str:
    from myfitnesspaw_spark.plans.text_queries import _duck_cosine

    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 25 = 0
),
cent AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings
  WHERE vec_id < {SEMDEDUP_NC}
),
assigned AS (
  SELECT vec_id, embedding, cid AS cluster_id FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_duck_cosine("e.embedding", "c.cv")} DESC, c.cid ASC
           ) AS rn
    FROM corpus e CROSS JOIN cent c
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster_id,
         {_duck_cosine("a.embedding", "b.embedding")} AS cos
  FROM assigned a JOIN assigned b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE {_duck_cosine("a.embedding", "b.embedding")} >= {SEMDEDUP_THRESHOLD}
)
SELECT id_b AS dropped_id,
       CAST(MAX(cluster_id) AS INT) AS cluster_id,
       MIN(id_a) AS witness_id,
       arg_min(cos, id_a) AS witness_cos,
       COUNT(*) AS n_witnesses
FROM pairs GROUP BY id_b
"""


SEMDEDUP_ORACLE = _semdedup_oracle()

# --- semantic_dedup_kpp ---------------------------------------------------
# SemDeDup with a REALISTIC coarse quantizer (VERDICT r5 #8): instead
# of the lowest-id vectors (whatever the first NC rows happen to be —
# at scale that clumps centroids in one corner of the space and makes
# one giant cluster own the quadratic near-dup work), the seeds come
# from a deterministic k-means++-style farthest-first traversal
# (operators/clustering.py::farthest_first_seeds) over a bounded
# md5-rank sample.  Same downstream pipeline as semantic_dedup
# (within-cluster near-dup pairs → drop non-canonical members);
# assignment switches to the exact-integer L2 quantizer the k-means
# operator already certifies, so EVERY stage — sample, seeding,
# assignment, pairs — is replicated verbatim in the oracle (the
# seeding unrolls as NC−1 argmax CTE stages, the same generated-SQL
# discipline as the PQ codebook and Lloyd oracles; the chained
# ch{i} CTEs are AS MATERIALIZED because DuckDB inlines plain CTEs
# per reference — a doubly-referenced chain would expand 2^NC scans
# and exhaust file handles on the parquet view).

KPP_SAMPLE = 64


def _kpp_sample_seeds(vecs: DataFrame, nc: int) -> list[tuple[int, list[int]]]:
    """Bounded seeding sample + farthest-first traversal (shared by
    the kpp-seeded SemDeDup and IVF variants).

    The sample is the ``KPP_SAMPLE`` base vectors of lowest
    md5(vec_id) rank — a pseudo-random spread that is deterministic
    and engine-independent; orderBy+limit compiles to a distributed
    partial top-K, and only these constant-many rows reach the driver
    (the corpus never does).  Returns ``nc`` (id, micro-int vector)
    seeds."""
    from myfitnesspaw_spark.operators.clustering import (
        farthest_first_seeds,
        scale_to_micro,
    )

    sample_rows = (
        vecs.select("vec_id", scale_to_micro(F.col("embedding")).alias("v"))
        .orderBy(
            F.md5(F.col("vec_id").cast("string").cast("binary")).asc(),
            F.col("vec_id").asc(),
        )
        .limit(KPP_SAMPLE)
        .collect()
    )
    return farthest_first_seeds(
        [(int(r["vec_id"]), [int(x) for x in r["v"]]) for r in sample_rows], nc
    )


def _kpp_seed_ctes(nc: int) -> str:
    """The seeding replicated in SQL: the WITH-fragment from the
    long-format points table through ``ch{nc-1}`` (the final seed id
    set), as ``nc - 1`` unrolled argmax stages.  Chained CTEs are AS
    MATERIALIZED — DuckDB inlines plain CTEs per reference, and a
    doubly-referenced chain would expand 2^nc scans."""
    steps = []
    for i in range(1, nc):
        steps.append(f"""
dist{i} AS (
  SELECT dd.vec_id, MIN(dd.d) AS mind FROM (
    SELECT a.vec_id, c.cid, SUM((a.val - b.val) * (a.val - b.val)) AS d
    FROM spts a
    CROSS JOIN ch{i - 1} c
    JOIN spts b ON b.vec_id = c.cid AND b.dim = a.dim
    GROUP BY 1, 2
  ) dd
  WHERE dd.vec_id NOT IN (SELECT cid FROM ch{i - 1})
  GROUP BY 1
),
sel{i} AS (SELECT vec_id AS cid FROM dist{i} ORDER BY mind DESC, vec_id ASC LIMIT 1),
ch{i} AS MATERIALIZED (SELECT cid FROM ch{i - 1} UNION ALL SELECT cid FROM sel{i})""")
    seed_stages = ",".join(steps)
    return f"""pts AS MATERIALIZED (
  SELECT vec_id, i AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS val
  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
),
samp AS MATERIALIZED (
  SELECT vec_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT {KPP_SAMPLE}
),
spts AS MATERIALIZED (SELECT p.* FROM pts p JOIN samp s USING (vec_id)),
ch0 AS MATERIALIZED (SELECT MIN(vec_id) AS cid FROM samp),{seed_stages}"""


def semantic_dedup_kpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myfitnesspaw_spark.operators.clustering import (
        assign_clusters_lit,
        scale_to_micro,
    )
    from myfitnesspaw_spark.operators.similarity import bucket_near_dup

    vecs = scatter(load_table(spark, sf_dir, "embeddings"))
    copies = vecs.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    corpus = (
        vecs.select("vec_id", "embedding")
        .unionByName(copies)
        .withColumn("v", scale_to_micro(F.col("embedding")))
    )
    seeds = _kpp_sample_seeds(vecs, SEMDEDUP_NC)
    from myfitnesspaw_spark.sources import sf_is_small

    # Materialized ONCE: the pair self-join reads the assignment from
    # both sides; without the checkpoint each side re-runs the scan +
    # quantizer.  The quantizer is the LITERAL one-shot form (r20):
    # the previous crossJoin-as-data form multiplied the size estimate
    # and localCheckpoint CARRIES the inflated stats (measured
    # sizeInBytes ≈ 1.1e25 on 2080 rows), forcing the pair self-join
    # to sort-merge at bench scale where broadcast is right — the
    # literal lineage keeps honest scan-derived stats, so AQE/stats
    # pick broadcast while small and shuffle join at real scale.
    assigned = (
        assign_clusters_lit(corpus, "v", seeds)
        .select("vec_id", "embedding", F.col("cluster").alias("cluster_id"))
        .localCheckpoint()
    )
    # Same scale-aware salting rationale as semantic_dedup.
    pairs = bucket_near_dup(
        assigned, "vec_id", "embedding", "cluster_id", SEMDEDUP_THRESHOLD,
        salt_groups=1 if sf_is_small(sf_dir) else 4,
    )
    return pairs.groupBy(F.col("id_b").alias("dropped_id")).agg(
        F.max("bucket").alias("cluster_id"),
        F.min("id_a").alias("witness_id"),
        F.min_by("cos", "id_a").alias("witness_cos"),
        F.count(F.lit(1)).alias("n_witnesses"),
    )


def _semdedup_kpp_oracle() -> str:
    from myfitnesspaw_spark.plans.text_queries import _duck_cosine

    return f"""
WITH {_kpp_seed_ctes(SEMDEDUP_NC)},
cpts AS (SELECT c.cid, p.dim, p.val FROM ch{SEMDEDUP_NC - 1} c JOIN pts p ON p.vec_id = c.cid),
corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 25 = 0
),
corpts AS (
  SELECT vec_id, i AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS val
  FROM corpus, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
),
adist AS (
  SELECT e.vec_id, c.cid, SUM((e.val - c.val) * (e.val - c.val)) AS dist
  FROM corpts e JOIN cpts c USING (dim) GROUP BY 1, 2
),
asg AS (
  SELECT vec_id, cid AS cluster_id FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
    FROM adist
  ) WHERE rn = 1
),
assigned AS (
  SELECT a.vec_id, co.embedding, a.cluster_id
  FROM asg a JOIN corpus co USING (vec_id)
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster_id,
         {_duck_cosine("a.embedding", "b.embedding")} AS cos
  FROM assigned a JOIN assigned b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE {_duck_cosine("a.embedding", "b.embedding")} >= {SEMDEDUP_THRESHOLD}
)
SELECT id_b AS dropped_id,
       CAST(MAX(cluster_id) AS BIGINT) AS cluster_id,
       MIN(id_a) AS witness_id,
       arg_min(cos, id_a) AS witness_cos,
       COUNT(*) AS n_witnesses
FROM pairs GROUP BY id_b
"""


SEMDEDUP_KPP_ORACLE = _semdedup_kpp_oracle()

# --- ivf_ann_topk_kpp -----------------------------------------------------
# The IVF half of the seeding upgrade (VERDICT r5 #8 names both): the
# coarse quantizer's centroids are the farthest-first seed VECTORS
# instead of the lowest-id rows; assignment, probing, and scoring are
# the standard cosine IVF machinery (operators/similarity.py), so the
# only delta vs `ivf_ann_topk` is WHICH vectors anchor the clusters —
# spread over the embedding space rather than whatever the first NC
# rows happen to be.


def ivf_ann_topk_kpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myfitnesspaw_spark.operators.similarity import ivf_ann_topk as _ivf
    from myfitnesspaw_spark.plans.text_queries import (
        ANN_K,
        ANN_QUERY_MOD,
        IVF_NC,
        IVF_NPROBE,
    )

    vecs = scatter(load_table(spark, sf_dir, "embeddings"))
    seed_ids = [vid for vid, _ in _kpp_sample_seeds(vecs, IVF_NC)]
    # The quantizer uses the seeds' ORIGINAL float vectors (cosine
    # assignment, like ivf_ann_topk); NC rows collected once.
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in vecs.where(F.col("vec_id").isin(seed_ids)).collect()
    ]
    queries = vecs.where(F.col("vec_id") % ANN_QUERY_MOD == 0)
    return _ivf(queries, vecs, "vec_id", "embedding", cents, IVF_NPROBE, ANN_K)


def _ivf_kpp_oracle() -> str:
    from myfitnesspaw_spark.plans.text_queries import (
        ANN_K,
        ANN_QUERY_MOD,
        IVF_NC,
        IVF_NPROBE,
        _duck_cosine,
    )

    return f"""
WITH {_kpp_seed_ctes(IVF_NC)},
cent AS (
  SELECT e.vec_id AS cid, e.embedding AS cv
  FROM embeddings e JOIN ch{IVF_NC - 1} c ON e.vec_id = c.cid
),
assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {{cos_ec}} DESC, c.cid ASC
           ) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id % {ANN_QUERY_MOD} = 0
),
probes AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.query_id, q.qv, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {{cos_qc}} DESC, c.cid ASC
           ) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {IVF_NPROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {{cos_pa}} AS cos
  FROM probes p JOIN assigned a USING (cid)
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos
FROM ranked WHERE rank <= {ANN_K}
""".format(
        cos_ec=_duck_cosine("e.embedding", "c.cv"),
        cos_qc=_duck_cosine("q.qv", "c.cv"),
        cos_pa=_duck_cosine("p.qv", "a.embedding"),
    )


IVF_KPP_ORACLE = _ivf_kpp_oracle()

# --- srp_lsh_pairs --------------------------------------------------------
# Embedding-cosine near-dup via signed-random-projection LSH — the
# third LSH family in the suite next to MinHash (set Jaccard) and
# SimHash (token-weighted Hamming): NB deterministic ±1 hyperplanes
# (md5-derived, embedded as literals in BOTH engines), 32-bit
# signature, 8-bit bands, candidates verified with exact cosine.
# See operators/similarity.py::srp_lsh_pairs for the scale shape.
#
# BAND WIDTH IS THE QUADRATIC-CONTROL KNOB: b-bit bands give 2^b
# possible values per band, so random-collision candidates grow as
# N²/2^b.  The r5 K=8 scale probe measured the original 4-bit bands
# (16 values) at 11.4× time for 8× data — quadratic leakage — and
# 8-bit bands cut the random-collision space 16×.  Identical vectors
# still collide in every band (recall 1.0 on true duplicates); lower
# collision probability for borderline-cosine pairs is the standard
# LSH recall/candidate trade, and the exact-cosine verify keeps
# precision exact either way.

SRP_BITS = 32
SRP_DIM = 64
SRP_BAND_BITS = 8
SRP_THRESHOLD = 0.45
SRP_SCALE = 1_000_000


def _srp_signs() -> list[list[int]]:
    """NB×D ±1 hyperplane matrix from md5("srp:{j}:{d}") parity —
    deterministic, engine-independent (pure Python constants)."""
    out = []
    for j in range(SRP_BITS):
        row = []
        for d in range(SRP_DIM):
            h = hashlib.md5(f"srp:{j}:{d}".encode()).hexdigest()
            row.append(1 if int(h[:2], 16) % 2 == 0 else -1)
        out.append(row)
    return out


def srp_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myfitnesspaw_spark.operators.similarity import srp_lsh_pairs

    vecs = scatter(load_table(spark, sf_dir, "embeddings"))
    copies = vecs.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    corpus = vecs.select("vec_id", "embedding").unionByName(copies)
    from myfitnesspaw_spark.sources import sf_is_small

    # Scale-aware hot-band salting (result-identical at any G): a
    # duplicate swarm shares every (band, bval) key, so beyond bench
    # scale the band join runs under the salt-cell decomposition.
    return srp_lsh_pairs(
        corpus,
        "vec_id",
        "embedding",
        _srp_signs(),
        SRP_BAND_BITS,
        SRP_THRESHOLD,
        scale=SRP_SCALE,
        salt_groups=1 if sf_is_small(sf_dir) else 4,
    )


def _srp_oracle() -> str:
    from myfitnesspaw_spark.plans.text_queries import _duck_cosine

    signs = _srp_signs()
    bit_terms = []
    for j, row in enumerate(signs):
        lit = "[" + ", ".join(str(s) for s in row) + "]"
        dot = (
            f"list_reduce(list_transform(generate_series(1, {SRP_DIM}), "
            f"i -> iv[i] * list_extract({lit}, i)), (a, v) -> a + v)"
        )
        bit_terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END)")
    sig_expr = " + ".join(bit_terms)
    n_bands = SRP_BITS // SRP_BAND_BITS
    band_rows = ", ".join(f"({b})" for b in range(n_bands))
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 25 = 0
),
iv AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
           x -> CAST(TRUNC(CAST(x AS DOUBLE) * {SRP_SCALE}) AS BIGINT)) AS iv
  FROM corpus
),
sigs AS (SELECT vec_id, embedding, {sig_expr} AS sig FROM iv),
bands AS (
  SELECT vec_id, t.band,
         (sig // CAST(power(2, {SRP_BAND_BITS} * t.band) AS BIGINT))
           % {1 << SRP_BAND_BITS} AS bval
  FROM sigs, LATERAL (VALUES {band_rows}) AS t(band)
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval
  WHERE a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b, {_duck_cosine("va.embedding", "vb.embedding")} AS cos
FROM cand c
JOIN corpus va ON va.vec_id = c.id_a
JOIN corpus vb ON vb.vec_id = c.id_b
WHERE {_duck_cosine("va.embedding", "vb.embedding")} >= {SRP_THRESHOLD}
"""


SRP_LSH_ORACLE = _srp_oracle()

# --- quality_classifier_score ---------------------------------------------
# Learned-filter inference as a projection — the fasttext-style quality
# classifier every curation pipeline runs over the full corpus.  The
# "model" is a fixed integer weight vector (trained offline; embedded
# as literals) applied to exact-integer engineered features, so
# inference is scan-local: broadcast weights, zero shuffle, and the
# decision (logit ≥ 0) is engine-exact.  No float sigmoid is emitted:
# exp() is last-ulp engine-dependent (same reason the suite's IDF
# avoids ln) and the keep/drop decision only needs the logit sign.
#
# Scale shape: identical to any model-scoring pass at 100 TB — the
# weights ride into every task as literals, scoring rides into the
# scan; the ONLY cost is the row projection itself.

#: (bias, n_tokens, distinct_millis, stop_millis, mean_wlen_millis)
QC_WEIGHTS = (-1800, 9, 2, -4, 1)


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scatter(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    feat = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.filter(toks, lambda t: t.isin("the", "a"))).alias("n_stop"),
        F.length(normalize_text(F.col("text"))).alias("n_chars"),
    )
    feat = feat.select(
        "doc_id",
        "n_tokens",
        F.expr("1000 * n_distinct DIV n_tokens").alias("distinct_millis"),
        F.expr("1000 * n_stop DIV n_tokens").alias("stop_millis"),
        F.expr("1000 * n_chars DIV n_tokens").alias("mean_wlen_millis"),
    )
    w = QC_WEIGHTS
    logit_units = (
        F.lit(w[0])
        + w[1] * F.col("n_tokens")
        + w[2] * F.col("distinct_millis")
        + w[3] * F.col("stop_millis")
        + w[4] * F.col("mean_wlen_millis")
    )
    return feat.select(
        "doc_id",
        "n_tokens",
        "distinct_millis",
        "stop_millis",
        "mean_wlen_millis",
        logit_units.alias("logit_units"),
        (logit_units >= 0).alias("quality_pass"),
    )


QUALITY_CLASSIFIER_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_NORM} AS norm, {_WORDS} AS w FROM documents
),
feat AS (
  SELECT doc_id,
         len(w) AS n_tokens,
         1000 * len(list_distinct(w)) // len(w) AS distinct_millis,
         1000 * len(list_filter(w, t -> t IN ('the', 'a'))) // len(w)
           AS stop_millis,
         1000 * length(norm) // len(w) AS mean_wlen_millis
  FROM d
),
scored AS (
  SELECT *,
         {QC_WEIGHTS[0]} + {QC_WEIGHTS[1]} * n_tokens
           + {QC_WEIGHTS[2]} * distinct_millis
           + {QC_WEIGHTS[3]} * stop_millis
           + {QC_WEIGHTS[4]} * mean_wlen_millis AS logit_units
  FROM feat
)
SELECT doc_id, n_tokens, distinct_millis, stop_millis, mean_wlen_millis,
       CAST(logit_units AS BIGINT) AS logit_units,
       logit_units >= 0 AS quality_pass
FROM scored
"""

# --- pagerank_dedup_graph -------------------------------------------------
# Link analysis over the near-dup pair graph: 3 rounds of exact-integer
# PageRank (operators/graph.py) pick the most CENTRAL member of each
# duplicate neighborhood — the canonical-survivor signal to use when
# "lowest id wins" is too crude.  The oracle unrolls the identical
# 3 rounds as CTEs; every unit is integer arithmetic, so the two
# engines agree bit for bit.

PR_ITERATIONS = 3


def pagerank_dedup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myfitnesspaw_spark.operators.dedup import (
        jaccard_pairs_prefix_arrays,
        shingle_arrays,
    )
    from myfitnesspaw_spark.operators.graph import pagerank_integer
    from myfitnesspaw_spark.plans.text_queries import JACCARD_THRESHOLD

    docs = scatter(load_table(spark, sf_dir, "documents"))
    sh = shingle_arrays(docs, "doc_id", "text", n=3)
    pairs = jaccard_pairs_prefix_arrays(sh, "doc_id", JACCARD_THRESHOLD).select(
        "id_a", "id_b"
    )
    return pagerank_integer(pairs, iterations=PR_ITERATIONS).select(
        F.col("node").alias("doc_id"), "deg", "rank_units"
    )


def _pagerank_oracle() -> str:
    from myfitnesspaw_spark.operators.graph import PR_SCALE
    from myfitnesspaw_spark.plans.text_queries import (
        _SHINGLES_CTE,
        JACCARD_THRESHOLD,
    )

    base = (15 * PR_SCALE) // 100
    rounds = []
    prev = "r0"
    for i in range(1, PR_ITERATIONS + 1):
        rounds.append(f"""
r{i} AS (
  SELECT n.node, n.deg,
         {base} + (85 * COALESCE(s.csum, 0)) // 100 AS rank
  FROM deg n
  LEFT JOIN (
    SELECT y.d AS node, SUM(r.rank // r.deg) AS csum
    FROM {prev} r JOIN sym y ON y.s = r.node
    GROUP BY 1
  ) s USING (node)
)""")
        prev = f"r{i}"
    return f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT s.id_a, s.id_b
  FROM shared s
  JOIN sizes sa ON s.id_a = sa.doc_id
  JOIN sizes sb ON s.id_b = sb.doc_id
  WHERE s.n_shared / (sa.n_sh + sb.n_sh - s.n_shared) >= {JACCARD_THRESHOLD}
),
sym AS (
  SELECT id_a AS s, id_b AS d FROM edges
  UNION ALL
  SELECT id_b, id_a FROM edges
),
deg AS (SELECT s AS node, COUNT(*) AS deg FROM sym GROUP BY 1),
r0 AS (SELECT node, deg, {PR_SCALE} AS rank FROM deg),
{",".join(rounds)}
SELECT node AS doc_id, deg, CAST(rank AS BIGINT) AS rank_units FROM {prev}
"""


PAGERANK_ORACLE = _pagerank_oracle()

# --- pq_ann_topk ----------------------------------------------------------
# Product-quantization ANN (Jégou et al.) — the memory-bound scale
# path next to brute-force (ann_topk_cosine) and partition-pruned
# (ivf_ann_topk) search: the corpus is scanned as M-byte PQ codes and
# each query's M×K lookup table turns the per-pair cost into M array
# reads.  Codebooks here are the subvectors of the PQ_K lowest-id
# vectors (a seeded-init codebook without the Lloyd steps, same
# determinism stance as the IVF centroids); distances are exact
# integer L2² in micro-units, so encode, LUT, and ADC sums hash-match
# DuckDB bit for bit.

PQ_M = 8      # subspaces (64 dims → 8 per subspace)
PQ_K = 4      # codes per subspace
PQ_TOPK = 5
PQ_QUERY_MOD = 50
PQ_SCALE = 1_000_000


def _pq_topk_from(vecs: DataFrame) -> DataFrame:
    """PQ/ADC search over a prepared corpus frame — split out (r20) so
    pq_recall_eval can feed truth AND approx from ONE checkpointed
    scan instead of five independent scan+scatter trees."""
    from myfitnesspaw_spark.operators.similarity import pq_ann_topk

    sub_d = 64 // PQ_M
    donors = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in vecs.where(F.col("vec_id") < PQ_K).collect()
    )
    codebooks = [
        [
            [int(float(v) * PQ_SCALE) for v in vec[m * sub_d : (m + 1) * sub_d]]
            for _, vec in donors
        ]
        for m in range(PQ_M)
    ]
    queries = vecs.where(F.col("vec_id") % PQ_QUERY_MOD == 0)
    return pq_ann_topk(
        queries, vecs, "vec_id", "embedding", codebooks, PQ_TOPK, scale=PQ_SCALE
    )


def pq_ann_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pq_topk_from(scatter(load_table(spark, sf_dir, "embeddings")))


_PQ_L2 = (
    "list_reduce(list_transform(generate_series(1, {n}), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
)


def _pq_ctes(scored: str = "scored", ranked: str = "ranked") -> str:
    """The iv → subs → cb → enc → lut → scored → ranked CTE chain,
    composable _bf_ranked_ctes-style (text_queries.py) so
    PQ_ANN_ORACLE and PQ_RECALL_ORACLE share one notion of "the PQ
    search" by construction.  ``iv`` is MATERIALIZED: the recall
    oracle references it three times (subs + both brute-force sides)
    and DuckDB inlines plain CTEs per reference."""
    sub_d = 64 // PQ_M
    dist = _PQ_L2.format(n=sub_d, a="{a}", b="{b}")
    return f"""iv AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(TRUNC(CAST(x AS DOUBLE) * {PQ_SCALE}) AS BIGINT)) AS iv
  FROM embeddings
),
subs AS (
  SELECT vec_id, t.m,
         list_slice(iv, t.m * {sub_d} + 1, (t.m + 1) * {sub_d}) AS sv
  FROM iv, LATERAL (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) AS t
),
cb AS (
  SELECT m, CAST(vec_id AS INT) AS code, sv AS cv FROM subs
  WHERE vec_id < {PQ_K}
),
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY {dist.format(a="s.sv", b="c.cv")} ASC, c.code ASC
           ) AS rn
    FROM subs s JOIN cb c USING (m)
  ) WHERE rn = 1
),
lut AS (
  SELECT q.vec_id AS query_id, c.m, c.code,
         {dist.format(a="q.sv", b="c.cv")} AS d
  FROM subs q JOIN cb c USING (m)
  WHERE q.vec_id % {PQ_QUERY_MOD} = 0
),
{scored} AS (
  SELECT l.query_id, e.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS approx_dist
  FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2
),
{ranked} AS (
  SELECT query_id, neighbor_id, approx_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY approx_dist ASC, neighbor_id ASC) AS rank
  FROM {scored}
)"""


PQ_ANN_ORACLE = f"""
WITH {_pq_ctes()}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, approx_dist
FROM ranked WHERE rank <= {PQ_TOPK}
"""


# --- pq_recall_eval ---------------------------------------------------------
# The ACCURACY CONTRACT for the PQ/ADC index (VERDICT r9 #3, carried
# through r10 #4): recall@K of the compressed-scan search against the
# exact integer-L2² ground truth on the SAME micro-int vectors — the
# last approximate index in the registry without one (IVF has
# ivf_recall_eval; MinHash has minhash_jaccard_calibration).  PQ's
# error source differs from IVF's: nothing is pruned — every corpus
# vector is scored — but through the M-subspace codebook, so recall
# measures pure quantization loss, the number an operator reads
# before choosing (M, K) at corpus scale.
#
# Output mirrors ivf_recall_eval: one row per evaluation query —
# exact hit count against the top-K truth set and recall in exact
# integer ppm (10⁶·hits DIV K); no float crosses the hash.
#
# Scale shape: the truth side is brute force BY DESIGN (recall
# evaluation always pays exact search — operators/similarity.l2_topk,
# broadcast queries × sharded corpus) and runs on the sampled query
# set (vec_id % PQ_QUERY_MOD), not the corpus; the PQ side inherits
# the compressed-scan plan.  The final intersection joins two
# K·|queries|-row frames — evaluation-set-sized at any corpus scale.
#
# The oracle COMPOSES the same CTE chain that builds PQ_ANN_ORACLE
# (_pq_ctes) plus a brute-force ranking over the shared ``iv`` table
# (full-vector L2² = Σ subspace L2², exact in integers), so
# truth/approx can never drift from the stage oracle.


def pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myfitnesspaw_spark.operators.similarity import l2_topk

    # ONE checkpointed scan feeds truth, approx (incl. its codebook
    # collect), and the query universe (r20, guide §2.4) — mirroring
    # ivf_recall_eval's shared frame; previously 5 Scans + 4 scatter
    # Exchanges of the same embeddings table.
    vecs = scatter(load_table(spark, sf_dir, "embeddings")).localCheckpoint()
    queries = vecs.where(F.col("vec_id") % PQ_QUERY_MOD == 0)
    truth = l2_topk(
        queries, vecs, "vec_id", "embedding", PQ_TOPK, scale=PQ_SCALE
    ).select("query_id", "neighbor_id")
    approx = _pq_topk_from(vecs).select("query_id", "neighbor_id")
    hits = (
        approx.join(truth, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    # Query universe straight off the shared frame — NOT truth's query
    # ids, which would replay the brute-force subtree just to list them.
    universe = vecs.where(F.col("vec_id") % PQ_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id")
    )
    per_q = universe.join(hits, "query_id", "left").select(
        "query_id", F.coalesce("__hits", F.lit(0)).cast("long").alias("n_hits")
    )
    return per_q.select(
        "query_id",
        "n_hits",
        F.expr(f"(1000000 * n_hits) div {PQ_TOPK}").alias("recall_ppm"),
    )


PQ_RECALL_ORACLE = f"""
WITH {_pq_ctes("pq_scored", "pq_ranked")},
approx AS (
  SELECT query_id, neighbor_id FROM pq_ranked WHERE rank <= {PQ_TOPK}
),
bf_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_PQ_L2.format(n=64, a="q.iv", b="c.iv")} AS dist
  FROM iv q JOIN iv c ON c.vec_id <> q.vec_id
  WHERE q.vec_id % {PQ_QUERY_MOD} = 0
),
bf_ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dist ASC, neighbor_id ASC) AS rank
  FROM bf_scored
),
truth AS (
  SELECT query_id, neighbor_id FROM bf_ranked WHERE rank <= {PQ_TOPK}
),
hits AS (
  SELECT a.query_id, COUNT(*) AS n_hits
  FROM approx a JOIN truth t
    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
  GROUP BY 1
)
SELECT q.vec_id AS query_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       (1000000 * CAST(COALESCE(h.n_hits, 0) AS BIGINT)) // {PQ_TOPK}
         AS recall_ppm
FROM iv q LEFT JOIN hits h ON h.query_id = q.vec_id
WHERE q.vec_id % {PQ_QUERY_MOD} = 0
"""

# --- mmr_rerank ---------------------------------------------------------------
# Maximal Marginal Relevance diversification (Carbonell & Goldstein
# 1998) — the rerank step between retrieval and the context window:
# greedily select K of the top-N candidates maximizing
# λ·relevance − (1−λ)·max-similarity-to-already-selected, so the
# result is relevant AND non-redundant (a RAG context of five copies
# of the same passage wastes four slots; dedup'd mixture prompts and
# diverse few-shot pools run the same algorithm).
#
# The Spark-first shape makes MMR DISTRIBUTED where it matters: the
# greedy loop is inherently sequential in K but independent ACROSS
# queries, so each query's top-N candidate list is grouped into one
# row and the whole selection runs as a row-local SQL fold
# (aggregate over 1..K; argmax via array_max of (score, -cid, cand)
# structs) — a million queries rerank in parallel with zero driver
# involvement and zero extra shuffles beyond the candidate top-N.
#
# Exact-integer contract: relevance and pairwise similarity are raw
# integer dot products of the shared micro-int vectors (PQ_SCALE
# trunc), λ = 0.7 enters as the weight pair (7, 3), ties break to the
# lower candidate id — both engines replay the same greedy trace bit
# for bit (the oracle unrolls the K rounds as chained CTEs).

MMR_QUERY_MOD = 50
MMR_N = 8   # candidate pool per query (retrieval top-N)
MMR_K = 4   # diversified selection size
MMR_W_REL, MMR_W_DIV = 7, 3  # λ=0.7 as exact integer weights


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myfitnesspaw_spark.operators.dedup import topk_per_key

    vecs = scatter(load_table(spark, sf_dir, "embeddings"))
    iv = F.transform(
        F.col("embedding"), lambda x: (x.cast("double") * PQ_SCALE).cast("long")
    )
    corp = vecs.select(F.col("vec_id").alias("cid"), iv.alias("civ"))
    q = vecs.where(F.col("vec_id") % MMR_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), iv.alias("qv")
    )
    dot_rel = F.aggregate(
        F.zip_with(F.col("civ"), F.col("qv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    scored = corp.join(F.broadcast(q), F.col("cid") != F.col("query_id")).select(
        "query_id", "cid", "civ", dot_rel.alias("rel")
    )
    cands = topk_per_key(
        scored, ["query_id"], [F.col("rel").desc(), F.col("cid").asc()], MMR_N
    ).select("query_id", "cid", "rel", "civ")
    grouped = cands.groupBy("query_id").agg(
        F.collect_list(F.struct("cid", "rel", "civ")).alias("cands")
    )
    sel_type = "array<struct<cid:bigint,rel:bigint,civ:array<bigint>>>"
    pick = f"""
      array_max(
        transform(
          filter(cands, c -> NOT exists(sel, s -> s.cid = c.cid)),
          c -> named_struct(
            'score',
            {MMR_W_REL}L * c.rel - {MMR_W_DIV}L * coalesce(
              array_max(transform(sel, s ->
                aggregate(zip_with(c.civ, s.civ, (x, y) -> x * y),
                          0L, (a, v) -> a + v))),
              0L),
            'negid', -c.cid,
            'c', c)
        )
      ).c"""
    mmr = F.expr(
        f"""aggregate(
      sequence(1, {MMR_K}),
      cast(array() as {sel_type}),
      (sel, k) -> concat(sel, array({pick}))
    )"""
    )
    return (
        grouped.select("query_id", F.posexplode(mmr).alias("pos", "s"))
        # A candidate pool smaller than K exhausts mid-fold: array_max
        # over the empty remainder is NULL and the fold pads with null
        # structs.  The oracle's round CTEs simply emit fewer rows, so
        # drop the padding to match (ranks of the non-null prefix are
        # already correct — padding only ever trails).
        .where(F.col("s").isNotNull())
        .select(
            "query_id",
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("s.cid").alias("neighbor_id"),
            F.col("s.rel").alias("rel_dot"),
        )
    )


_MMR_DOT = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> ({a}[i] * {b}[i])), (x, y) -> x + y)"
)


def _mmr_oracle() -> str:
    dot = _MMR_DOT
    rounds = []
    for r in range(2, MMR_K + 1):
        prev = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, r))
        rounds.append(f"""s{r} AS MATERIALIZED (
  SELECT query_id, cid, rel, civ, {r} AS rank FROM (
    SELECT c.query_id, c.cid, c.rel, c.civ,
           ROW_NUMBER() OVER (PARTITION BY c.query_id
             ORDER BY {MMR_W_REL}*c.rel - {MMR_W_DIV}*p.maxsim DESC, c.cid ASC
           ) AS rn
    FROM cand c
    JOIN (
      SELECT c2.query_id, c2.cid, MAX({dot.format(a="c2.civ", b="s.civ")}) AS maxsim
      FROM cand c2 JOIN ({prev}) s ON s.query_id = c2.query_id
      GROUP BY 1, 2
    ) p ON p.query_id = c.query_id AND p.cid = c.cid
    WHERE NOT EXISTS (SELECT 1 FROM ({prev}) s2
                      WHERE s2.query_id = c.query_id AND s2.cid = c.cid)
  ) WHERE rn = 1
)""")
    final = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, MMR_K + 1))
    return f"""
WITH iv AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(TRUNC(CAST(x AS DOUBLE) * {PQ_SCALE}) AS BIGINT)) AS iv
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, iv AS qv FROM iv
  WHERE vec_id % {MMR_QUERY_MOD} = 0
),
cand AS MATERIALIZED (
  SELECT query_id, cid, rel, civ FROM (
    SELECT q.query_id, c.vec_id AS cid, c.iv AS civ,
           {dot.format(a="c.iv", b="q.qv")} AS rel,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY {dot.format(a="c.iv", b="q.qv")} DESC, c.vec_id ASC
           ) AS rn
    FROM q JOIN iv c ON c.vec_id <> q.query_id
  ) WHERE rn <= {MMR_N}
),
s1 AS MATERIALIZED (
  SELECT query_id, cid, rel, civ, 1 AS rank FROM (
    SELECT query_id, cid, rel, civ,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY {MMR_W_REL}*rel DESC, cid ASC) AS rn
    FROM cand
  ) WHERE rn = 1
),
{",".join(rounds)}
SELECT query_id, CAST(rank AS INT) AS rank, cid AS neighbor_id, rel AS rel_dot
FROM ({final})
"""


MMR_RERANK_ORACLE = _mmr_oracle()

# --- hard_negative_mining -------------------------------------------------
# Contrastive-training data prep: for each sampled anchor vector, the
# top-K most similar vectors of a DIFFERENT label — the "hard
# negatives" a contrastive or reranker training loop mines from the
# corpus (easy negatives are random; hard ones are near the decision
# boundary).  Same broadcast-anchors × sharded-corpus topology as
# brute-force ANN, with the label-mismatch predicate riding in the
# join condition so same-label pairs never materialize.

HN_K = 5
HN_QUERY_MOD = 50
# Fixed-size anchor cap (VERDICT r11 #5): `vec_id % HN_QUERY_MOD` alone
# keeps the anchor sample corpus-PROPORTIONAL, making the exhaustive
# path O(N²/mod) at scale.  Contrastive prep needs a bounded anchor set
# anyway, so cap it: deterministic hash-order (md5 of the id, id
# tiebreak) + LIMIT compiles to TakeOrderedAndProject — a distributed
# partial top-K, no global sort — and bounds the whole path at
# O(N·cap).  At every tested sf the modulo sample is under the cap
# (10/10/40 anchors), so results and baselines are unchanged; only the
# 100× behavior differs.
HN_MAX_ANCHORS = 256


def _anchor_batched(anchors, id_col: str, n_batches: int, one_batch):
    """Run a broadcast-anchors × sharded-corpus stage in ``n_batches``
    disjoint anchor slices and union the results.

    The "broadcast the query/anchor side" topology holds only while
    ALL anchors fit in one broadcast; past ~10⁶ anchors the single
    broadcast is an executor OOM.  Batching by ``pmod(hash(id), n)``
    keeps each broadcast bounded at |anchors|/n while staying
    result-identical: the slices partition the anchor set, and every
    downstream per-anchor computation (top-K, ranking) only ever
    groups by anchor, so no cross-slice state exists.  The corpus is
    re-scanned once per batch — the deliberate trade of the
    brute-force/exhaustive path (the IVF/PQ/LSH operators are the
    sublinear alternatives).  ``n_batches=1`` is the plain join."""
    if n_batches <= 1:
        return one_batch(anchors)
    out = None
    for b in range(n_batches):
        part = anchors.where(F.pmod(F.hash(F.col(id_col)), F.lit(n_batches)) == b)
        res = one_batch(part)
        out = res if out is None else out.unionByName(res)
    return out


def hard_negative_mining(
    spark: SparkSession, sf_dir: str, anchor_batches: int | None = None
) -> DataFrame:
    """``anchor_batches`` is the broadcast-size knob (see
    ``_anchor_batched``; the batched path stays result-identical and
    is pinned by test_anchor_batching_result_identical).  Since the
    ``HN_MAX_ANCHORS`` cap the anchor broadcast is bounded by
    construction, so None means 1 batch at every scale."""
    from myfitnesspaw_spark.operators.dedup import topk_per_key
    from myfitnesspaw_spark.operators.similarity import _norm, cosine_prenormed

    if anchor_batches is None:
        anchor_batches = 1
    vecs = scatter(load_table(spark, sf_dir, "embeddings"))
    # Norms projected per ROW before the anchors×corpus pair join
    # (r20): the inlined cosine paid both norm folds per PAIR.
    anchors = (
        vecs.where(F.col("vec_id") % HN_QUERY_MOD == 0)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("embedding").alias("av"),
            F.col("label").alias("anchor_label"),
            _norm(F.col("embedding")).alias("__an"),
        )
        .orderBy(F.md5(F.col("anchor_id").cast("string")), F.col("anchor_id"))
        .limit(HN_MAX_ANCHORS)
    )
    corpus = vecs.select(
        F.col("vec_id").alias("negative_id"),
        F.col("embedding").alias("nv"),
        F.col("label").alias("neg_label"),
        _norm(F.col("embedding")).alias("__nn"),
    )

    def one_batch(part):
        scored = corpus.join(
            F.broadcast(part), F.col("anchor_label") != F.col("neg_label")
        ).select(
            "anchor_id",
            "negative_id",
            F.col("anchor_label").cast("int").alias("anchor_label"),
            F.col("neg_label").cast("int").alias("neg_label"),
            cosine_prenormed(
                F.col("av"), F.col("nv"), F.col("__an"), F.col("__nn")
            ).alias("cos"),
        )
        return topk_per_key(
            scored,
            ["anchor_id"],
            [F.col("cos").desc(), F.col("negative_id").asc()],
            HN_K,
        ).select(
            "anchor_id", "negative_id", "anchor_label", "neg_label", "rank", "cos"
        )

    return _anchor_batched(anchors, "anchor_id", anchor_batches, one_batch)


def _hard_negative_oracle() -> str:
    from myfitnesspaw_spark.plans.text_queries import _duck_cosine

    return f"""
WITH a AS (
  SELECT vec_id AS anchor_id, embedding AS av, label AS anchor_label
  FROM embeddings WHERE vec_id % {HN_QUERY_MOD} = 0
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {HN_MAX_ANCHORS}
),
scored AS (
  SELECT a.anchor_id, c.vec_id AS negative_id,
         CAST(a.anchor_label AS INT) AS anchor_label,
         CAST(c.label AS INT) AS neg_label,
         {_duck_cosine("a.av", "c.embedding")} AS cos
  FROM a JOIN embeddings c ON a.anchor_label <> c.label
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                               ORDER BY cos DESC, negative_id ASC) AS rank
  FROM scored
)
SELECT anchor_id, negative_id, anchor_label, neg_label,
       CAST(rank AS INT) AS rank, cos
FROM ranked WHERE rank <= {HN_K}
"""


HARD_NEGATIVE_ORACLE = _hard_negative_oracle()

# --- random_negative_sampling ---------------------------------------------
# The uniform half of the contrastive recipe next to hard_negative_
# mining: for each sampled anchor document, K negatives drawn from
# OTHER sources by md5(anchor:candidate) rank — a deterministic,
# re-run-stable stand-in for uniform sampling that needs no RNG state
# and reproduces exactly on reprocessing (the same property the
# suite's split/sample operators are built on).
#
# Scale shape: anchors broadcast against the sharded corpus; the rank
# window partitions by anchor (bounded by the anchor sample), and the
# md5 ranking key is computed in the scan projection.

RN_K = 4
RN_QUERY_MOD = 50


def random_negative_sampling(
    spark: SparkSession, sf_dir: str, anchor_batches: int | None = None
) -> DataFrame:
    """``anchor_batches``: broadcast-size knob, same contract as
    ``hard_negative_mining`` (None → scale-aware 1/4)."""
    from myfitnesspaw_spark.operators.dedup import topk_per_key
    from myfitnesspaw_spark.sources import sf_is_small

    if anchor_batches is None:
        anchor_batches = 1 if sf_is_small(sf_dir) else 4
    docs = scatter(load_table(spark, sf_dir, "documents"))
    anchors = docs.where(F.col("doc_id") % RN_QUERY_MOD == 0).select(
        F.col("doc_id").alias("anchor_id"), F.col("source").alias("anchor_source")
    )
    cands = docs.select(
        F.col("doc_id").alias("negative_id"), F.col("source").alias("neg_source")
    )

    def one_batch(part):
        ring = cands.join(
            F.broadcast(part), F.col("anchor_source") != F.col("neg_source")
        ).select(
            "anchor_id",
            "negative_id",
            "neg_source",
            F.md5(
                F.concat_ws(":", F.col("anchor_id").cast("string"),
                            F.col("negative_id").cast("string"))
            ).alias("ring_key"),
        )
        return topk_per_key(
            ring,
            ["anchor_id"],
            [F.col("ring_key").asc(), F.col("negative_id").asc()],
            RN_K,
        ).select("anchor_id", "negative_id", "neg_source", "rank", "ring_key")

    return _anchor_batched(anchors, "anchor_id", anchor_batches, one_batch)


RANDOM_NEGATIVE_ORACLE = f"""
WITH a AS (
  SELECT doc_id AS anchor_id, source AS anchor_source FROM documents
  WHERE doc_id % {RN_QUERY_MOD} = 0
),
ring AS (
  SELECT a.anchor_id, d.doc_id AS negative_id, d.source AS neg_source,
         md5(CAST(a.anchor_id AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR))
           AS ring_key
  FROM a JOIN documents d ON a.anchor_source <> d.source
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                               ORDER BY ring_key ASC, negative_id ASC) AS rank
  FROM ring
)
SELECT anchor_id, negative_id, neg_source, CAST(rank AS INT) AS rank, ring_key
FROM ranked WHERE rank <= {RN_K}
"""

# --- corpus_build_pipeline ------------------------------------------------
# The end-to-end corpus build, composed from the suite's own stages in
# ONE plan: learned quality filter (logit ≥ 0) + minimum-length gate →
# exact dedup (keep the lowest doc_id per normalized-text hash) →
# mixture balancing over the survivors → per-source rollup with a
# content digest of the kept ids.  Certifying the COMPOSITION matters
# as much as the stages: filters must ride into the scan below the
# dedup shuffle, and the mixture quota must be computed on the deduped
# counts, not the raw ones.
#
# Scale shape: stage 1 is scan-local; stage 2 is one map-side-combined
# shuffle on the content hash; stage 3 reuses mixture_sample's shape
# (20-row counts + 1-row total broadcast back, per-source rank
# window).  One corpus pass end to end.

CB_MIN_TOKENS = 30


def corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scatter(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    feat = docs.select(
        "doc_id",
        "source",
        "text",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.filter(toks, lambda t: t.isin("the", "a"))).alias("n_stop"),
        F.length(normalize_text(F.col("text"))).alias("n_chars"),
    )
    w = QC_WEIGHTS
    logit = (
        F.lit(w[0])
        + w[1] * F.col("n_tokens")
        + w[2] * F.expr("1000 * n_distinct DIV n_tokens")
        + w[3] * F.expr("1000 * n_stop DIV n_tokens")
        + w[4] * F.expr("1000 * n_chars DIV n_tokens")
    )
    filtered = feat.where((logit >= 0) & (F.col("n_tokens") >= CB_MIN_TOKENS))
    # Exact dedup: lowest doc_id survives per normalized-content hash.
    hashed = filtered.select(
        "doc_id", "source", F.md5(normalize_text(F.col("text"))).alias("h")
    )
    surv = hashed.withColumn(
        "rk_dup",
        F.row_number().over(Window.partitionBy("h").orderBy(F.col("doc_id").asc())),
    ).where(F.col("rk_dup") == 1)
    # Mixture balancing over the SURVIVORS.
    weighted = surv.withColumn("w8", F.expr(_mix_weight_expr("source")))
    counts = weighted.groupBy("source", "w8").agg(F.count(F.lit(1)).alias("n_dedup"))
    n_total = counts.agg(F.min(F.expr(f"n_dedup * {MIX_DEN} DIV w8")).alias("n_units"))
    quotas = counts.crossJoin(F.broadcast(n_total)).withColumn(
        "quota", F.expr(f"w8 * n_units DIV {MIX_DEN}")
    )
    ranked = weighted.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
            )
        ),
    )
    kept = ranked.join(
        F.broadcast(quotas.select("source", "quota", "n_dedup")), "source"
    ).where(F.col("rk") <= F.col("quota"))
    return kept.groupBy("source").agg(
        F.max("n_dedup").alias("n_dedup"),
        F.max("quota").alias("quota"),
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.array_sort(F.collect_list(F.col("doc_id").cast("string"))), ","
            )
        ).alias("kept_md5"),
    )


CORPUS_BUILD_ORACLE = f"""
WITH feat AS (
  SELECT doc_id, source, {_NORM} AS norm, {_WORDS} AS w FROM documents
),
m AS (
  SELECT doc_id, source, norm,
         len(w) AS n_tokens,
         1000 * len(list_distinct(w)) // len(w) AS distinct_millis,
         1000 * len(list_filter(w, t -> t IN ('the', 'a'))) // len(w)
           AS stop_millis,
         1000 * length(norm) // len(w) AS mean_wlen_millis
  FROM feat
),
filtered AS (
  SELECT doc_id, source, norm FROM m
  WHERE {QC_WEIGHTS[0]} + {QC_WEIGHTS[1]} * n_tokens
        + {QC_WEIGHTS[2]} * distinct_millis
        + {QC_WEIGHTS[3]} * stop_millis
        + {QC_WEIGHTS[4]} * mean_wlen_millis >= 0
    AND n_tokens >= {CB_MIN_TOKENS}
),
surv AS (
  SELECT doc_id, source FROM (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS rk_dup
    FROM filtered
  ) WHERE rk_dup = 1
),
weighted AS (
  SELECT doc_id, source, {_mix_weight_expr("source")} AS w8 FROM surv
),
counts AS (
  SELECT source, w8, COUNT(*) AS n_dedup FROM weighted GROUP BY 1, 2
),
n_total AS (SELECT MIN(n_dedup * {MIX_DEN} // w8) AS n_units FROM counts),
quotas AS (
  SELECT source, n_dedup, w8 * n_units // {MIX_DEN} AS quota
  FROM counts CROSS JOIN n_total
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM weighted
),
kept AS (
  SELECT r.source, q.n_dedup, q.quota, r.doc_id
  FROM ranked r JOIN quotas q USING (source)
  WHERE r.rk <= q.quota
)
SELECT source, MAX(n_dedup) AS n_dedup, MAX(quota) AS quota,
       COUNT(*) AS n_kept,
       md5(array_to_string(list_sort(list(CAST(doc_id AS VARCHAR))), ','))
         AS kept_md5
FROM kept GROUP BY source
"""

# --- bpe_merge_candidates -------------------------------------------------
# The inner step of BPE tokenizer TRAINING: count adjacent symbol
# pairs across the corpus and surface the top merge candidates (one
# merge = the most frequent pair; real training loops this, re-
# tokenizing after each merge — this query certifies the distributed
# counting step on the initial character vocabulary).  Pairs within
# words only, words weighted by their corpus frequency — counting
# distinct words once and multiplying by frequency is the standard
# trick that makes BPE training corpus-size-independent (vocab-sized).
#
# Scale shape: word counts = one map-side-combined shuffle on the
# word; pair explode runs over the DISTINCT word table (vocab-sized,
# not corpus-sized); final top-K is a TakeOrderedAndProject, never a
# global-order window.

BPE_TOPK = 20


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scatter(load_table(spark, sf_dir, "documents"))
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chars = words.withColumn("cs", F.split(F.col("word"), ""))
    pairs = chars.select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("cs") - 1),
                lambda i: F.concat(
                    F.element_at(F.col("cs"), i), F.element_at(F.col("cs"), i + 1)
                ),
            )
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(F.sum("freq").alias("pair_count"))
    return (
        counts.orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(BPE_TOPK)
        .withColumn(
            "merge_rank",
            F.row_number().over(
                Window.orderBy(F.col("pair_count").desc(), F.col("pair").asc())
            ),
        )
    )


BPE_MERGE_ORACLE = f"""
WITH words AS (
  SELECT w AS word, COUNT(*) AS freq FROM (
    SELECT unnest({_WORDS}) AS w FROM documents
  ) WHERE length(w) >= 2 GROUP BY 1
),
pairs AS (
  SELECT freq,
         word[i] || word[i + 1] AS pair
  FROM words, LATERAL (SELECT unnest(generate_series(1, length(word) - 1)) AS i)
),
counts AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count FROM pairs GROUP BY 1)
SELECT pair, pair_count,
       CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair ASC) AS INT)
         AS merge_rank
FROM counts
ORDER BY pair_count DESC, pair ASC
LIMIT {BPE_TOPK}
"""

# --- bpe_apply_merges -------------------------------------------------------
# The BPE ENCODE step (VERDICT r9 #4, carried through r10 #5):
# bpe_merge_candidates certifies the distributed pair-COUNTING of
# tokenizer training, but nothing applied a merge table — the step
# every training-data pipeline actually runs per document at serving
# time.  This query tokenizes the distinct-word vocabulary under a
# FROZEN literal merge list, exactly how production encode works (the
# merge table is learned once offline, then shipped to every encoder
# as a constant).
#
# BPE_MERGES below is the real thing: 8 merges trained offline with
# the Sennrich et al. procedure (count pairs over the freq-weighted
# vocab, take the argmax with count-desc/pair-asc tiebreak, apply,
# recount) on the sf0.01 documents vocabulary — note merge 6
# ('m'+'er') consumes the output of merge 1 ('e'+'r'), so the query
# certifies genuinely ITERATIVE application, not 8 independent
# substitutions.
#
# Application semantics (identical on both engines by construction):
# the word's tokens are rendered as a bracket-delimited string
# ('<t><h><e>'), and each merge (a, b) is one string replace of
# '<a><b>' with '<ab>' — leftmost, non-overlapping, replaced text not
# rescanned, which is exactly the one-pass-per-merge substitution of
# the original BPE implementation (re.sub in Sennrich et al.).  The
# bracket form makes adjacent matches share no characters (a plain
# space-joined form breaks on odd runs: the shared separator is
# consumed by the previous match), and '<'/'>' cannot collide with
# token text — tokens() yields lowercase word characters only.
#
# Scale shape: the merge table rides into every task as literal
# replace arguments (pure whole-stage codegen, no UDF, no join); the
# only shuffle is the word-frequency groupBy, over the DISTINCT word
# table (vocab-sized, not corpus-sized) — the same corpus-size-
# independence trick as bpe_merge_candidates.

BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"),
    ("i", "n"),
    ("o", "w"),
    ("o", "r"),
    ("s", "t"),
    ("m", "er"),
    ("a", "t"),
    ("l", "u"),
]


def bpe_encode_expr(col, merges: list[tuple[str, str]]):
    """The bracket-delimited BPE encode as a pure Column expression:
    char-split ``col`` into '<c>' cells, then apply each merge (a, b)
    as one leftmost/non-overlapping string replace of '<a><b>' with
    '<ab>'.  Parametrized over the merge table so the property test
    (tests/test_properties.py) can drive it with RANDOM chained merge
    lists against a token-walk Python reference — the production
    callers pass the frozen BPE_MERGES."""
    enc = F.regexp_replace(col, r"(.)", "<$1>")
    for a, b in merges:
        enc = F.replace(enc, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
    return enc


def bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scatter(load_table(spark, sf_dir, "documents"))
    # Letter-only vocabulary: tokens() is a whitespace split, so
    # punctuation would otherwise survive into words — and '<'/'>'
    # inside a word would corrupt the bracket-delimited encode (the
    # delimiter safety claim is enforced HERE, not assumed of the
    # data).  Out-of-alphabet words are handled downstream by
    # bpe_doc_token_counts' character fallback.
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .where((F.length("word") >= 2) & F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    enc = bpe_encode_expr(F.col("word"), BPE_MERGES)
    spaced = F.expr(
        "trim(BOTH '<>' FROM replace(__enc, '><', ' '))"
    )
    return (
        words.withColumn("__enc", enc)
        .withColumn("tokens", spaced)
        .select(
            "word",
            "freq",
            "tokens",
            (
                F.length("tokens")
                - F.length(F.replace(F.col("tokens"), F.lit(" ")))
                + F.lit(1)
            )
            .cast("long")
            .alias("n_tokens"),
        )
    )


def _bpe_vocab_ctes() -> str:
    """``words`` → ``enc`` → ``vocab`` CTE chain (freq-weighted distinct
    words tokenized under BPE_MERGES), shared by BPE_APPLY_ORACLE and
    BPE_DOC_COUNTS_ORACLE so the two can never disagree on what "the
    frozen tokenizer" produces."""
    enc = "regexp_replace(word, '(.)', '<\\1>', 'g')"
    for a, b in BPE_MERGES:
        enc = f"replace({enc}, '<{a}><{b}>', '<{a}{b}>')"
    return f"""words AS (
  SELECT w AS word, COUNT(*) AS freq FROM (
    SELECT unnest({_WORDS}) AS w FROM documents
  ) WHERE length(w) >= 2 AND regexp_matches(w, '^[a-z]+$') GROUP BY 1
),
enc AS (
  SELECT word, freq,
         trim(replace({enc}, '><', ' '), '<>') AS tokens
  FROM words
),
vocab AS (
  SELECT word, freq, tokens,
         CAST(length(tokens) - length(replace(tokens, ' ', '')) + 1 AS BIGINT)
           AS n_tokens
  FROM enc
)"""


BPE_APPLY_ORACLE = f"""
WITH {_bpe_vocab_ctes()}
SELECT word, freq, tokens, n_tokens FROM vocab
"""


# --- bpe_doc_token_counts ---------------------------------------------------
# The DOCUMENT-level closure of the tokenizer surface: per-doc token
# counts under the frozen merge table — the number every training-data
# pipeline actually bills by (context packing, mixture budgets, cost
# estimates all run on token counts, not word counts).  The engine
# trick is the same one bpe_merge_candidates exploits in training:
# ENCODE THE VOCABULARY, NOT THE CORPUS — the distinct-word table is
# tokenized once (vocab-sized replace chain) and joined back to the
# corpus' word stream, so the per-occurrence cost is a join probe, not
# a re-run of the merge cascade.  Words outside the vocabulary
# (single characters, and anything outside the trained [a-z]+
# alphabet) take the CHARACTER FALLBACK via the join's COALESCE
# default — one token per character, the byte/char-fallback every
# production BPE applies to out-of-alphabet input.
#
# Output: per doc, the word count, the BPE token count, and the
# tokenizer-eval compression rate in exact integer milli-chars/token
# ((1000·n_chars_norm) DIV n_bpe_tokens — no float crosses the hash).
#
# Scale shape: corpus scan → join against the vocab-sized tokenized
# table (stats/AQE broadcast it — corpus-derived, so no hard hint per
# the broadcast policy) → one doc-keyed aggregate.  The merge cascade
# itself never touches corpus-sized data.


def bpe_doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scatter(load_table(spark, sf_dir, "documents"))
    words = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
    vocab = bpe_apply_merges(spark, sf_dir).select("word", "n_tokens")
    per_doc = (
        words.join(vocab, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(
                F.coalesce(
                    F.col("n_tokens"),
                    F.greatest(F.length("word"), F.lit(1)).cast("long"),
                )
            ).alias("n_bpe_tokens"),
        )
    )
    norms = docs.select(
        "doc_id", F.length(normalize_text(F.col("text"))).alias("__nc")
    )
    return per_doc.join(norms, "doc_id").select(
        "doc_id",
        "n_words",
        "n_bpe_tokens",
        F.expr("(1000 * cast(__nc as bigint)) div n_bpe_tokens").alias(
            "chars_per_token_milli"
        ),
    )


BPE_DOC_COUNTS_ORACLE = f"""
WITH {_bpe_vocab_ctes()},
docwords AS (
  SELECT doc_id, unnest({_WORDS}) AS word FROM documents
),
per_doc AS (
  SELECT d.doc_id, COUNT(*) AS n_words,
         CAST(SUM(COALESCE(v.n_tokens, GREATEST(length(d.word), 1)))
              AS BIGINT) AS n_bpe_tokens
  FROM docwords d LEFT JOIN vocab v USING (word)
  GROUP BY 1
)
SELECT p.doc_id, p.n_words, p.n_bpe_tokens,
       (1000 * CAST(length({_NORM}) AS BIGINT)) // p.n_bpe_tokens
         AS chars_per_token_milli
FROM per_doc p JOIN documents d USING (doc_id)
"""

# --- sorted_neighborhood_pairs --------------------------------------------
# Entity resolution on STRUCTURED attributes — the record-linkage
# family next to the content-LSH operators: sorted-neighborhood
# blocking (Hernández & Stolfo).  Records sort by the match key inside
# prefix blocks; each record compares only against its next
# SNM_WINDOW neighbors (lead columns — row-local after the sort, no
# self-join), and candidates verify with exact Levenshtein distance.
#
# Scale shape: the block key caps every sort partition (range-
# partition in production; pairs never cross blocks — the documented
# SNM trade), the window is O(w) lead columns instead of a candidate
# join, and verification is candidate-only.  Planted typo-copies
# (name + 'x', key-shifted) certify recall.

SNM_WINDOW = 2
SNM_MAX_LEV = 2
SNM_BLOCK_LEN = 15


def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cid"), F.col("c_name").alias("name")
    )
    copies = cust.where(F.col("cid") % 100 == 0).select(
        (F.col("cid") + 1_000_000).alias("cid"),
        F.concat(F.col("name"), F.lit("x")).alias("name"),
    )
    corpus = scatter(cust.unionByName(copies)).withColumn(
        "blk", F.substring("name", 1, SNM_BLOCK_LEN)
    )
    w = Window.partitionBy("blk").orderBy(F.col("name").asc(), F.col("cid").asc())
    nbrs = corpus.select(
        "cid",
        "name",
        *[F.lead("cid", k).over(w).alias(f"cid_{k}") for k in range(1, SNM_WINDOW + 1)],
        *[
            F.lead("name", k).over(w).alias(f"name_{k}")
            for k in range(1, SNM_WINDOW + 1)
        ],
    )
    cands = None
    for k in range(1, SNM_WINDOW + 1):
        c = nbrs.where(F.col(f"cid_{k}").isNotNull()).select(
            F.least("cid", f"cid_{k}").alias("id_a"),
            F.greatest("cid", f"cid_{k}").alias("id_b"),
            F.levenshtein("name", f"name_{k}").alias("lev"),
        )
        cands = c if cands is None else cands.unionByName(c)
    return cands.where(F.col("lev") <= SNM_MAX_LEV)


SNM_PAIRS_ORACLE = f"""
WITH corpus AS (
  SELECT c_custkey AS cid, c_name AS name FROM customer
  UNION ALL
  SELECT c_custkey + 1000000, c_name || 'x' FROM customer WHERE c_custkey % 100 = 0
),
blocked AS (
  SELECT cid, name, substr(name, 1, {SNM_BLOCK_LEN}) AS blk FROM corpus
),
nbrs AS (
  SELECT cid, name,
         lead(cid, 1) OVER w AS cid_1, lead(name, 1) OVER w AS name_1,
         lead(cid, 2) OVER w AS cid_2, lead(name, 2) OVER w AS name_2
  FROM blocked
  WINDOW w AS (PARTITION BY blk ORDER BY name, cid)
),
cands AS (
  SELECT least(cid, cid_1) AS id_a, greatest(cid, cid_1) AS id_b,
         CAST(levenshtein(name, name_1) AS INT) AS lev
  FROM nbrs WHERE cid_1 IS NOT NULL
  UNION ALL
  SELECT least(cid, cid_2), greatest(cid, cid_2),
         CAST(levenshtein(name, name_2) AS INT)
  FROM nbrs WHERE cid_2 IS NOT NULL
)
SELECT id_a, id_b, lev FROM cands WHERE lev <= {SNM_MAX_LEV}
"""


# --- dsir_selection -------------------------------------------------------
# Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
# rank raw documents by how target-like their HASHED n-gram feature
# profile is, where "target" is a reference slice of the corpus (here
# lang='en').  Features are bigrams hashed to B=256 buckets — the
# paper's memory bound: the feature space stays B counters per
# distribution at ANY corpus size, never vocabulary-sized.
#
# Exact-integer surrogate (same discipline as bigram_lm_score /
# bm25_rank): per bucket, ratio_units = (c_target+1) * SCALE DIV
# (c_raw+1) — the add-one-smoothed target/raw count ratio in ppm.
# The true DSIR weight is Σ n_i·(log p_i − log q_i); the global
# normalizers (T+B, R+B) are doc-independent shifts and the log is
# monotone per feature, so Σ n_i·ratio_units ranks target-like docs
# the same way while staying hash-comparable across engines (raw ⊇
# target ⇒ c_t ≤ c_r ⇒ units ≤ SCALE; per-doc sums stay far below
# 2^63).  Selection is the deterministic top-K by (score, doc_id) —
# the resampling variant would draw Gumbel keys from these weights.
#
# Scale shape: two map-side-combined count aggregates over the SAME
# exploded feature table (bucket key, 256 groups), one 256-row model
# table joined back by bucket (stats-broadcast, no hint needed — the
# model is construction-bounded at B rows), one per-doc sum, and a
# TakeOrderedAndProject top-K.  No collect, no window, no Python.
# The feature subtree IS evaluated twice (model pass + scoring pass —
# two pruned scans of documents); the alternative — checkpoint a
# (doc, is_target, bucket, n) pre-aggregate and derive both passes
# from it — measured SLOWER end-to-end at sf0.1 (1.16 s vs 0.85 s:
# the materialization write costs more than the column-pruned
# rescan), so the rescan stands.  Re-measure before "fixing" it.

DSIR_BUCKETS = 256
DSIR_TOP_K = 200


def dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myfitnesspaw_spark.plans.sampling_queries import _hex_byte

    docs = scatter(load_table(spark, sf_dir, "documents"))
    feats = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_target"),
        F.explode(_bigram_list(tokens(F.col("text")))).alias("bigram"),
    ).select(
        "doc_id",
        "is_target",
        (_hex_byte(F.md5(F.col("bigram")), 0) % DSIR_BUCKETS).alias("bucket"),
    )
    # Aggregate-then-checkpoint (r20, guide §2.3 "aggregate before you
    # shuffle" + §5): the model build and the scoring join BOTH consume
    # the exploded feature table, and with the model side broadcast no
    # exchange is shared — the tokenize+bigram+md5 extraction ran TWICE
    # over the corpus (plan: 2 Scans, 2 Generates, 0 ReusedExchange).
    # Collapsing to per-(doc, bucket) instance counts first shrinks the
    # shuffle to ≤ DSIR_BUCKETS rows per doc, and the localCheckpoint
    # of that compact table gives both consumers ONE materialization.
    g = (
        feats.groupBy("doc_id", "is_target", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    model = g.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("n")).otherwise(F.lit(0))).alias("c_t"),
        F.sum("n").alias("c_r"),
    ).select(
        "bucket",
        F.expr(f"(c_t + 1) * {LM_SCALE} DIV (c_r + 1)").alias("ratio_units"),
    )
    scored = (
        g.join(model, "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_features"),
            F.sum(F.col("n") * F.col("ratio_units")).alias("dsir_units"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_features",
            "dsir_units",
            F.expr("dsir_units DIV n_features").alias("avg_ratio_units"),
        )
        .orderBy(F.desc("avg_ratio_units"), "doc_id")
        .limit(DSIR_TOP_K)
    )


# Portable hex-byte arithmetic shared with the CMS/sampling oracles —
# one encoding, one place to change it (Spark-side: _hex_byte).
from myfitnesspaw_spark.plans.sampling_queries import _hex_byte_sql  # noqa: E402

_DSIR_BUCKET_SQL = f"{_hex_byte_sql('md5(bigram)', 0)} % {DSIR_BUCKETS}"

DSIR_SELECTION_ORACLE = f"""
WITH toks AS (SELECT doc_id, lang = 'en' AS is_target, {_WORDS} AS w
              FROM documents),
inst AS (
  SELECT doc_id, is_target,
         unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i + 1])) AS bigram
  FROM toks WHERE len(w) >= 2
),
feats AS (
  SELECT doc_id, is_target, {_DSIR_BUCKET_SQL} AS bucket FROM inst
),
model AS (
  SELECT bucket,
         (CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) + 1)
           * {LM_SCALE}
           // (COUNT(*) + 1) AS ratio_units
  FROM feats GROUP BY bucket
),
scored AS (
  SELECT f.doc_id, COUNT(*) AS n_features,
         CAST(SUM(m.ratio_units) AS BIGINT) AS dsir_units
  FROM feats f JOIN model m USING (bucket)
  GROUP BY f.doc_id
)
SELECT doc_id, n_features, dsir_units,
       CAST(dsir_units // n_features AS BIGINT) AS avg_ratio_units
FROM scored
ORDER BY avg_ratio_units DESC, doc_id
LIMIT {DSIR_TOP_K}
"""
