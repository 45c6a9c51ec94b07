"""Empirical scaling probe for the scale-critical corpus paths.

Builds a K×-scaled copy of the testdata corpus in /tmp (documents and
embeddings replicated with shifted ids; text perturbed per replica and
embeddings rotated per replica so replicas are NOT near-dups of their
originals — naive replication would inflate every duplicate group K×
and measure an artificial quadratic blow-up instead of the engine),
then times the banded/bucketed near-dup suite and related corpus ops
at 1× and K× and prints time-ratio vs data-ratio.

A path whose time ratio tracks the data ratio (±shuffle constants) is
candidate-bounded as designed; a super-linear ratio means a quadratic
pair space leaked past the banding.  The scaled dir name embeds
``sf{K}`` so scale-aware knobs (e.g. embedding_near_dup's salt_groups)
see a LARGE scale and take their cluster-shaped path — the probe
exercises exactly the branches a real big run would.

Usage::

    python scripts/scale_probe.py [K] [query ...]   # default K=4
    python scripts/scale_probe.py facts [K] ...     # orders/lineitem axis
    python scripts/scale_probe.py rebuilt [K] ...   # corpus, same-writer 1x
    python scripts/scale_probe.py events [K] ...    # events axis
    python scripts/scale_probe.py rounds [K ...]    # CC rounds-vs-size

Measured (sf0.1 base, local[32], 2026-08-14) — time-ratio at K=4 and
K=8; every probe at or under its data ratio (ANN's pair space grows
K², so its ratios compare against 16×/64×)::

    query                  K=4     K=8   (data ratio  4.0 / 8.0)
    exact_dedup           1.41x   1.49x
    ngram_jaccard_pairs   3.18x   5.84x
    minhash_lsh_pairs     2.56x   1.97x
    simhash_pairs         1.48x   2.77x
    dedup_clusters_star   2.81x   6.22x
    embedding_near_dup    3.89x   6.23x  (salted scale path active)
    ann_topk_cosine       3.55x   9.75x  (vs 16x / 64x pair space)
    lang_id               1.60x   2.82x
    sequence_packing      1.44x   1.32x
    inverted_index_build  1.20x   1.35x

Round-5 additions (K=4 and K=8 runs, same base)::

    query                     K=4     K=8   (data ratio 4.0 / 8.0)
    srp_lsh_pairs             2.40x  3.58x  (8-bit bands; the original
                                            4-bit bands measured 11.4x
                                            at K=8 — quadratic random-
                                            collision leakage, fixed by
                                            widening the band)
    pq_ann_topk               1.04x  1.99x  (vs K² pair space; ADC scan)
    semantic_dedup            6.54x  7.80x  (vs K² within-cluster pairs)
    bigram_lm_score           1.94x  2.19x
    quality_classifier_score  2.00x  1.58x
    pagerank_dedup_graph      2.41x  3.12x
    sorted_neighborhood_pairs 1.07x  0.84x
    corpus_build_pipeline     0.86x  1.20x
    hard_negative_mining      3.46x  8.08x  (vs 16x/64x anchorsxcorpus
                                            pairs; K=8 runs the 4-way
                                            anchor-batched scale path)
    bpe_merge_candidates      1.29x  0.93x

Round-6 additions (post PPJoin length+positional filters — the
r6 re-measurement of the shingle family; ratios IMPROVED vs the r4
table above because the filters prune candidates row-locally before
any shuffle)::

    query                      K=4   (data ratio 4.0)
    ngram_jaccard_pairs       1.65x  (was 3.18x)
    dedup_clusters_star       1.14x  (was 2.81x)
    pagerank_dedup_graph      1.70x  (was 2.41x)

    semantic_dedup_kpp        ~10x  ~8x  (vs K² within-cluster pairs;
                                          measured 38.8 s at K=8 after
                                          checkpointing the assignment
                                          - its pre-fix lineage carried
                                          a cross join whose multiplied
                                          size estimate forced the
                                          NC-key self-join onto an
                                          NC-task sort-merge: 127 s)

Round-7 additions (VERDICT r6 #5) — the wedge join and the
contamination ANTI on the scaled corpus, plus the new ``facts`` mode
(K×-replicated orders+lineitem with shifted orderkeys, per-order
isomorphic) for the Q21 semi+anti chain::

    query                      K=4    K=8   (data ratio 4.0 / 8.0)
    dedup_graph_triangles     1.77x  2.19x  (O(m^1.5) bound would
                                             allow 8x/22.6x)
    decontaminated_corpus     2.13x  2.27x
    -- facts mode (1x side rebuilt through the same 32-split writer
       so both sides share a split layout; earlier few-split-base
       numbers: q21 1.08x/2.54x, top_unshipped 1.15x/1.27x,
       unreturned 1.55x/2.00x) --
    query                      K=4    K=8   (data ratio 4.0 / 8.0)
    q21_waiting_suppliers       -    1.39x
    top_unshipped_orders      0.74x  0.89x
    unreturned_orders         1.17x  1.48x
    q7_volume_shipping        1.03x  1.34x
    q8_market_share           1.06x  1.25x
    q19_disjunctive_brackets  0.78x  0.76x
    progress_report             -    1.06x
    nutrition_report          1.02x  0.95x

    Ratios near 1x for 4-8x data mean these chains are task-overhead-
    bound at this absolute size, not data-bound; the load-bearing
    claim is the ABSENCE of super-linear blow-up (a per-row re-scan
    or unkeyed join would show >> K), not the constant.

Facts-axis K=16 octave (``facts 16``, 2026-08-16) — the OLAP chains
a full octave past the r8 rows; every chain remains an order of
magnitude under the 16.0 data ratio (shuffle-per-row costs amortize;
the flagship report pipelines stay report-window-bounded)::

    query                      K=16  (data ratio 16.0)
    q21_waiting_suppliers     1.93x  (2.08s -> 4.03s)
    top_unshipped_orders      1.46x
    unreturned_orders         1.88x
    q7_volume_shipping        2.20x
    q8_market_share           1.73x
    q19_disjunctive_brackets    see r8 row (0.76x at K=8)
    progress_report           1.29x
    nutrition_report          1.71x
    salted_priority_revenue   1.77x  (the r8 K=8 4.09x was fixed
                                      overhead amortizing; at K=16
                                      the per-row term dominates and
                                      the curve flattens to ~1.8x)

Facts-axis K=32 octave (``facts 32``, 2026-08-16) — third octave
for the heaviest OLAP chains; every chain stays 7x+ under the 32.0
data ratio (the per-row shuffle terms grow linearly while the
report-window-bounded flagships barely move)::

    query                      K=32  (data ratio 32.0)
    q21_waiting_suppliers     4.58x  (1.66s -> 7.60s)
    unreturned_orders         2.78x
    q7_volume_shipping        2.90x
    q8_market_share           1.59x
    progress_report           2.09x
    nutrition_report          1.31x
    salted_priority_revenue   3.91x

Facts-axis K=64 octave (``facts 64``, 2026-08-16, r19) — fourth
octave, bringing the facts axis to the same K=64 depth as the
corpus/events/rounds axes (~38M lineitem rows).  Every chain stays
13x+ under the 64.0 data ratio; K-side absolute steps vs the K=32
session confirm the shape (q21 7.60s -> 9.34s = 1.23x per data
doubling; the report flagships remain report-window-bounded).
Same-session 1x sides ran 1.0-2.0x the K=32 session's (documented
cross-session variance; read octave steps K-side)::

    query                      K=64  (data ratio 64.0)
    q21_waiting_suppliers     2.81x  (3.32s -> 9.34s)
    unreturned_orders         3.13x
    q7_volume_shipping        4.32x
    q8_market_share           4.18x
    progress_report           2.00x
    nutrition_report          2.68x
    salted_priority_revenue   4.81x  (1.58s -> 7.59s)

Facts-axis K=128 octave (``facts 128``, 2026-08-16, r19,
late-session; host loud, cal spot ~0.3-0.4 — both sides share the
session, ratios hold) — fifth octave, ~77M lineitem rows.  Every
chain stays 9x+ under the 128.0 data ratio.  K-side steps per 2x
data vs the K=64 session: the report flagships stay window-bounded
(progress_report 9.61s -> 7.53s, a 0.78x step; q7 1.65x, q8 1.68x,
unreturned 1.46x); q21 steps 9.34s -> 32.84s = 3.52x and
salted_priority_revenue 7.59s -> 34.30s = 4.52x — the two
shuffle-heaviest chains (double semi+anti self-join; salted
two-stage agg) crossing from task-overhead-bound to genuinely
data-bound at 77M rows on 32 local threads, compounded by the
louder session; on a real cluster these shuffles spread over
executors, which is exactly what their salting/AQE design is for::

    query                      K=128  (data ratio 128.0)
    q21_waiting_suppliers    14.14x  (2.32s -> 32.84s)
    unreturned_orders         4.99x
    q7_volume_shipping        5.35x
    q8_market_share           9.30x
    progress_report           3.49x
    nutrition_report          7.45x
    salted_priority_revenue  11.84x  (2.90s -> 34.30s)

Round-7 new ops (same base)::

    query                      K=4    K=8   (data ratio 4.0 / 8.0)
    dsir_selection            0.92x  1.24x  (B=256 hashed feature
                                             space is size-invariant)
    repeated_ngram_spans      1.54x  2.57x  (64-bit md5-prefix keys)
    corpus_refresh_pipeline   1.27x  1.60x  (batch side restricted
                                             pre-shuffle; O(batch)
                                             delta shape holds)

Round-8 new ops (same base; 2026-08-14)::

    query                      K=4    K=8   (data ratio 4.0 / 8.0)
    url_dedup                 1.11x  1.24x  (scan-local codegen
                                             canonicalization + one
                                             hash shuffle)
    bm25_rank                 1.20x  1.35x  (corpus-stat broadcasts +
                                             TakeOrdered top-K: linear
                                             in the posting count)
    tf_idf_topk               1.41x  1.65x
    backup_rotation_plan      0.92x  0.93x  (facts mode: the DISTINCT
                                             collapses shifted-key
                                             replicas to the same
                                             dates/stores, so the
                                             post-scan shuffle stays
                                             listing-sized — flat by
                                             design)

r8 facts-mode broadening — the four short OLAP chains that led r7's
raw >1.5x bench band; every one tracks at or under the data ratio,
confirming the band was host weather, not a plan problem::

    query                      K=4    K=8   (data ratio 4.0 / 8.0)
    cust_order_distribution   0.97x  1.32x
    lateral_topk_customers    0.81x  0.91x
    late_ship_priority        1.95x  1.60x
    salted_priority_revenue   2.69x  4.09x  (linear past the fixed
                                             overhead: the 4x->8x
                                             data doubling costs
                                             4.09/2.69 ~= 1.5x)

Round-9 new ops (same base; 2026-08-15)::

    query                      K=4    K=8   (data ratio 4.0 / 8.0)
    minhash_dedup_e2e         2.50x  1.54x  (LSH candidates + CC on
                                             the pair graph only; the
                                             survivor anti/join sides
                                             stay label-table-sized)
    exact_substring_removal   1.41x  2.03x  (gram-keyed shuffle +
                                             doc-keyed reconstruction;
                                             linear in window count)
    neardup_refresh_pipeline  1.11x  1.45x  (probe side cut to the
                                             batch pre-shuffle; CC on
                                             batch×batch edges only —
                                             fixed CC-round scheduling
                                             dominates at this size)

R9 late additions (same base; 2026-08-15, loaded host load≈3 — both
curves well under the data ratio, re-probe on a quiet host if a
regression is ever suspected)::

    query                        K=4    K=8   (data ratio 4.0 / 8.0)
    quality_filter_cascade      1.21x  1.55x  (map-only: one scan +
                                               one 5-counter agg)
    minhash_jaccard_calibration 1.05x  1.70x  (post review fix: shared
                                               minhash_band_candidates
                                               + candidate-PAIR-driven
                                               exact side, verify_pairs
                                               shape; pre-fix shingle
                                               self-join over candidate
                                               docs measured 2.85x/
                                               5.84x)
    ivf_recall_eval             1.35x  3.27x  (vs 16x/64x pair space —
                                               brute-force truth side
                                               is anchors×corpus by
                                               design; post review fix
                                               the query universe reads
                                               the scan, not a second
                                               brute-force pass — the
                                               pre-fix shape measured
                                               7.29x/2.82x under load)

Round-11 additions (sf0.1 base; 2026-08-15, quiet host load<1)::

    query                      K=4    K=8   (data ratio 4.0 / 8.0)
    pq_recall_eval            2.25x  9.57x  (vs 16x/64x pair space —
                                             the exact-L2 truth side
                                             is anchors×corpus by
                                             design, same caveat as
                                             ivf_recall_eval/
                                             ann_topk_cosine)
    bpe_apply_merges          0.88x  1.68x  (vocab-sized shuffle: the
                                             distinct-word table
                                             saturates, so time is
                                             nearly flat in corpus
                                             size — the BPE trick
                                             working as designed)
    minhash_signature_refresh 1.33x  1.63x  (state-carrying refresh:
                                             the base corpus is only
                                             the persisted store side
                                             of the probe join, so
                                             cost tracks batch bands +
                                             candidate activity; CC-
                                             round scheduling
                                             dominates at this size)
    bloom_decontaminated_corpus 0.64x 1.77x (scan-local literal-array
                                             prefilter + candidate-
                                             bounded exact verify; the
                                             K=4 sub-1x ratio is a
                                             cold 1x-side measurement
                                             under ambient load — the
                                             K=8 pair is the signal)
    leakage_safe_split        1.84x  2.44x  (CC on the near-dup pair
                                             graph only; corpus side =
                                             one label join + row-
                                             local bucket projection)
    incremental_cc_refresh    1.28x  1.91x  (refresh CC over label +
                                             delta edges; the two
                                             shingle passes are the
                                             simulated-prior-run tax,
                                             both scan-linear)

Round-12 additions (sf0.1 base; 2026-08-15, quiet host)::

    query                      K=4    K=8   (data ratio 4.0 / 8.0)
    hard_negative_mining      2.06x  5.75x  (post HN_MAX_ANCHORS=256
                                             cap, VERDICT r11 #5: was
                                             3.46x/8.08x vs the 16x/
                                             64x pair space when the
                                             anchor sample was corpus-
                                             proportional; now the
                                             cap binds at K=8 — 320
                                             modulo-sampled anchors
                                             truncated to 256 — and
                                             the path is O(N*cap),
                                             LINEAR in the corpus)
    indexed_cc_refresh        1.50x  1.93x  (stored-shingle-index
                                             variant of
                                             incremental_cc_refresh:
                                             refresh side never
                                             re-tokenizes base text —
                                             O(|store| read +
                                             |batch| compute); the
                                             residual growth is the
                                             simulated prior run
                                             seeding the two stores,
                                             scan-linear by design)

Round-15 addition — REMEASURED 2026-08-16 after the layout fix: the
numbers first recorded here (2.34s/2.26s/3.24s, rebuilt 0.97x) were
INVALID — the stream's parent-dir glob matched nothing against the
scaled documents.parquet DIRECTORIES, so every K-side (and both sides
of the rebuilt pair) drained zero micro-batches and timed store-build
plus an empty stream.  ``stream_table_source`` (streaming/rollup.py)
now streams directory layouts directly, pinned by row-count in
tests/test_streaming.py.  Valid rebuilt-mode numbers (same-writer 1x
base, real ingest both sides)::

    query                      K=2    K=4    K=8   (data 2 / 4 / 8)
    streaming_lsh_ingest_probe 1.00x  1.09x  1.72x (3.64s -> 3.65s,
                                             3.37s -> 3.66s,
                                             3.28s -> 5.65s; genuinely
                                             sub-linear — micro-batch
                                             fixed cost plus the scan-
                                             linear store build
                                             dominate, and no
                                             collision blow-up on the
                                             K x-wider hot bands;
                                             r16 K=16 octave: 1.73x
                                             (3.20s -> 5.54s), flat
                                             from the K=8 ratio at
                                             double the data — the
                                             ingest path's growth term
                                             stays bounded by the
                                             watermark-trimmed state,
                                             not the corpus)

Rebuilt-base re-measurement of the refresh family (``rebuilt 4``,
2026-08-15) — the raw-base ratios above carry the single-split-1x
understatement, so the persisted-state protocols were re-probed
against a same-writer 1x base; all remain well under the data ratio
with the layout bias removed::

    query                      K=4 (rebuilt base; data ratio 4.0)
    minhash_signature_refresh 1.09x  (6.36s -> 6.96s)
    incremental_cc_refresh    1.28x  (6.70s -> 8.57s)
    indexed_cc_refresh        1.75x  (6.72s -> 11.74s; the growth is
                                      the scan-linear simulated prior
                                      run seeding the two stores —
                                      the refresh side stays O(batch))

K=16 octave for the two refresh capstones (``rebuilt 16``,
2026-08-16, VERDICT r15 #7) — launched quiet (load1 0.04 one minute
before; the session's own 32-core work drives load to ~8 mid-run,
shared by both sides so the ratios hold)::

    query                      K=16 (rebuilt base; data ratio 16.0)
    minhash_signature_refresh 2.08x  (4.83s -> 10.03s)
    indexed_cc_refresh        4.99x  (6.70s -> 33.45s)
    incremental_cc_refresh    3.02x  (6.35s -> 19.20s; separate quiet
                                      session, same day)

Read the CC contrast pair carefully: incremental's LOWER capstone
ratio does NOT make the caveat query the better scale bet.  The
capstone times one seed + one refresh, so indexed is charged for
WRITING the exploded shingle store (docs x shingles rows, the
dominant 16x-linear IO term) while incremental re-shingles in
memory with no store write.  But the store write is the ONE-TIME
half a real deployment amortizes across every subsequent refresh,
whereas incremental's full-corpus re-shingle is compute it pays on
EVERY refresh — at 100 TB the amortized per-refresh costs are
O(batch) for indexed vs O(corpus) for incremental, exactly the
contrast the pair exists to teach.

Both stay well under the data ratio two octaves past the first
probe.  The divergence between the two curves is the designed one:
minhash_signature_refresh's timed query re-reads a SIGNATURE store
(rows ~ docs, narrow) while indexed_cc_refresh's prior-run simulation
scan-builds an exploded SHINGLE store (rows ~ docs x shingles) — so
its in-query seeding term is the larger linear component and
dominates by K=16.  The refresh sides themselves remain
O(store read + batch compute); the capstone numbers bound the WHOLE
protocol (seed + persist + read-back + refresh) honestly.

K=16 octave for the two heavy non-refresh families (``rebuilt 16``,
2026-08-16, VERDICT r16 #5) — completes the evidence depth the
refresh capstones already have.  Session context: the host ran
continuously loud all day (same-day bench host_cal 0.179–0.437 vs
the 0.14 ref, neighbor load invisible to this VM's loadavg), so
absolute seconds are inflated ~2x on BOTH sides of each ratio; the
1x/K× sides share the session, so the ratios hold::

    query                      K=16 (rebuilt base; data ratio 16.0)
    minhash_dedup_e2e          3.79x  (5.43s -> 20.54s; was 3.49x at
                                       K=8 — banded LSH candidates +
                                       CC stay far under linear)
    semantic_dedup_kpp        13.25x  (11.00s -> 145.77s; vs the K²
                                       within-cluster pair space =
                                       256x — and still UNDER the
                                       16x linear data ratio: the
                                       kpp-seeded coarse partition
                                       keeps Σ cluster² bounded as
                                       populations grow K×)

K=32 fourth octave for the heavy refresh/streaming capstones
(``rebuilt 32``, 2026-08-16, VERDICT r17 #6) — extends the K=16
rows above one more doubling, to ~2M docs; session context: launched
on the same loud-calibration day (host_cal 0.287-0.317 across the
day's probe sessions), both sides share the session so the ratios
hold.  All three stay 7x+ UNDER the 32x data ratio, and
indexed_cc_refresh's ratio is FLAT across the octave (4.99x at K=16
-> 4.50x at K=32): the capstone's linear term (the simulated prior
run scan-building the exploded shingle store) has saturated the
curve and the refresh side's O(store read + batch compute) story
holds at 2M docs.  The streaming ingest path's 2.17x at 32x data
confirms no collision blow-up on the 32x-wider hot bands::

    query                      K=32 (rebuilt base; data ratio 32.0)
    minhash_signature_refresh  2.80x  (4.91s -> 13.75s; 2.08x at K=16)
    indexed_cc_refresh         4.50x  (6.35s -> 28.54s; 4.99x at K=16)
    streaming_lsh_ingest_probe 2.17x  (3.42s ->  7.42s; 1.73x at K=16)

K=64 FIFTH octave for the same three capstones (``rebuilt 64``,
2026-08-16, r19) — ~4M docs.  K-side steps per 2x data vs the K=32
session: indexed_cc_refresh 28.54s -> 32.44s = 1.14x (nearly FLAT —
the simulated-prior-run store build has fully saturated the curve
and the refresh side's O(store read + batch compute) term barely
moves), minhash_signature_refresh 13.75s -> 21.07s = 1.53x,
streaming_lsh_ingest_probe 7.42s -> 13.27s = 1.79x (its ratio FELL,
2.17x -> 1.37x, as this session's 1x side paid a heavier store
build).  All three remain 13x+ under the 64.0 data ratio::

    query                      K=64 (rebuilt base; data ratio 64.0)
    minhash_signature_refresh  4.15x  (5.07s -> 21.07s)
    indexed_cc_refresh         4.75x  (6.83s -> 32.44s)
    streaming_lsh_ingest_probe 1.37x  (9.71s -> 13.27s)

K=128 SIXTH octave for the same three capstones (``rebuilt 128``,
2026-08-16, r19, late-session; host_cal spot 0.395 — louder than the
K=64 session's 0.29-0.33, so read K-side steps with that grain of
salt; both sides share the session, so the ratios hold).  ~8M docs.
The streaming ingest path stays sub-linear (13.27s -> 19.31s =
1.46x per 2x data); minhash_signature_refresh steps 21.07s -> 49.96s
= 2.37x (its 1x side grew 1.27x on the louder host — host-normalized
the step is ~1.9x, consistent with its 1.53x K=32->64 step plus the
candidate term growing);  indexed_cc_refresh steps 32.44s -> 107.74s
= 3.32x — the FIRST capstone octave step above 2x/doubling, the
same shape the core-paths K=128 row saw on dedup_clusters_star.
This is NOT the refresh path going super-linear: the timed capstone
SIMULATES the prior run inside the query (full-corpus shingle-index
store build + write + read-back — corpus-proportional by design,
the honest cost of certifying the refresh protocol), and at 8M docs
that linear store-build term now dominates the fixed costs,
compounded by the louder session.  The refresh side itself stays
O(store read + batch compute) per the query's docstring
(text_queries.py, indexed_cc_refresh) — at a real 100-TB cadence
the store is built once and amortized, not rebuilt per refresh as
the probe must.  All three remain 10x+ under the 128.0 data ratio::

    query                      K=128 (rebuilt base; data ratio 128.0)
    minhash_signature_refresh   7.77x  (6.43s ->  49.96s)
    indexed_cc_refresh         12.54x  (8.59s -> 107.74s)
    streaming_lsh_ingest_probe  2.01x  (9.62s ->  19.31s)

K=64 FOURTH octave for the core dedup/text paths (``rebuilt 64``,
2026-08-16) — ~4M docs, the deepest probe in the book.  Every path
stays 5x+ under the 64.0 data ratio; the banded pair paths'
octave-over-octave K-side steps are strongly sub-linear
(minhash_lsh_pairs 24.93s at K=32 -> 30.42s at K=64 = 1.22x per 2x
data; simhash_pairs' RATIO even fell, 7.16x -> 4.73x, as its fixed
costs amortize).  The scan-local paths (exact_dedup,
sequence_packing) remain task-overhead-bound even at 4M docs::

    query                  K=64 (rebuilt base; data ratio 64.0)
    exact_dedup            1.78x  (0.77s ->  1.37s)
    minhash_lsh_pairs     12.05x  (2.53s -> 30.42s)
    simhash_pairs          4.73x  (3.35s -> 15.84s)
    lang_id               11.49x  (1.92s -> 22.01s)
    sequence_packing       1.65x  (0.83s ->  1.37s)
    inverted_index_build   2.79x  (1.32s ->  3.70s)

K=128 FIFTH octave for the core dedup/text paths (``rebuilt 128``,
2026-08-16, r19) — ~8M docs, the deepest probe in the book; three
same-day runs over one built corpus (launch load1 0.05-0.70 on a
loud-decay afternoon), per-side minima recorded.  Every path stays
4.7x+ UNDER the 128.0 data ratio.  K-side octave steps vs the K=64
session (cross-session, loud-day caveat): minhash_lsh_pairs 30.42s
-> 53.07s = 1.74x per 2x data and simhash_pairs 15.84s -> 30.26s =
1.91x — the banded pair paths' steps steepened vs the 1.22x of the
previous octave (the candidate term is growing as the fixed costs
finish amortizing) but remain SUB-LINEAR, so no quadratic leak
(simhash's first-run 35.85s read 2.26x; two re-runs gave 30.26s —
always re-probe a >2x step before believing it).  lang_id's 2.56x
step is a loud-day artifact (per-doc scoring is strictly linear
work; its same-session ratio is 25-27x vs 128x data in all three
runs).  sequence_packing left its task-overhead-bound regime
(1.65x at K=64 -> 8.80x at K=128): the linear work term now
dominates, still 14x under data.  inverted_index_build's first-run
1x side (8.70s) was a cold anomaly; the re-run pair 1.69s -> 5.27s
= 3.12x is the recorded row::

    query                  K=128 (rebuilt base; data ratio 128.0)
    exact_dedup            2.00x  (0.83s ->  1.65s)
    minhash_lsh_pairs     20.98x  (2.53s -> 53.07s)
    simhash_pairs         10.81x  (2.80s -> 30.26s)
    lang_id               25.11x  (2.24s -> 56.24s)
    sequence_packing       8.80x  (0.70s ->  6.20s)
    inverted_index_build   3.12x  (1.69s ->  5.27s)

K=32 third octave for the original dedup/text probes (``rebuilt
32``, 2026-08-16) — the first K=32 rows in the book; at 32x data the
corpus is ~2M docs and every path stays 4x+ under the data ratio
(the banded-candidate and scan-local growth stories hold across
THREE octaves)::

    query                  K=32 (rebuilt base; data ratio 32.0)
    exact_dedup           1.02x  (hash-groupBy: still task-overhead-
                                  bound at 2M docs)
    minhash_lsh_pairs     7.49x  (3.33s -> 24.93s)
    simhash_pairs         7.16x  (2.64s -> 18.92s)
    lang_id               6.53x  (scan-local n-gram features)
    sequence_packing      0.88x
    inverted_index_build  1.58x

K=16 broadening of the five remaining heavy K=8-only families
(``rebuilt 16``, 2026-08-16) — same loud-day session context as the
capstone octave above (both sides share the session; ratios hold)::

    query                      K=16 (rebuilt base; data ratio 16.0)
    ngram_jaccard_pairs        3.83x  (2.50s ->  9.57s; PPJoin prefix
                                       filter keeps candidates linear)
    dedup_clusters_star        3.14x  (4.34s -> 13.61s; large/small-
                                       star rounds grow with log of
                                       component size, not row count)
    embedding_near_dup         6.22x  (1.25s ->  7.76s; salted scale
                                       path active, same 6.2x it
                                       showed at K=8 raw base —
                                       flat across the octave)
    srp_lsh_pairs              6.43x  (2.31s -> 14.87s; 8-bit bands,
                                       random-collision pair space
                                       grows ~K² = 256x and the time
                                       ratio stays 2.5% of it)
    pagerank_dedup_graph       4.07x  (2.48s -> 10.09s; edge-count-
                                       sized shuffle width per round)

Rebuilt-base broadening (``rebuilt {4,8}``, 2026-08-16) — the four
heaviest non-refresh corpus families re-probed against a same-writer
1x base.  The K=4 session launched quiet (load1 0.11); the K=8
session ran on the K=4 session's residual load (load1 ~6 at launch)
— both sides of each ratio share their session, so the RATIOS hold
while absolute seconds are inflated::

    query                        K=4    K=8   (data ratio 4.0 / 8.0)
    semantic_dedup_kpp          1.44x  4.32x  (vs 16x/64x within-
                                               cluster pair space;
                                               the raw-base r6 ~10x
                                               at K=4 carried the
                                               single-split-1x bias
                                               this mode removes —
                                               with it gone the path
                                               is UNDER the data
                                               ratio at both sizes)
    minhash_dedup_e2e           0.81x  3.49x  (the K=4 session's 1x
                                               side read 7.75s vs
                                               3.93s in the K=8
                                               session — treat 3.49x
                                               as the signal, still
                                               well under 8.0)
    minhash_jaccard_calibration 1.32x  1.77x
    leakage_safe_split          1.44x  1.92x

Events-mode probes (``events {4,8}``, 2026-08-16) — the behavioral /
streaming family over a K×-replicated events table (shifted
user_id/event_id, timestamps unchanged → per-user sequences
isomorphic, window count constant, window population K×; 1x side
rebuilt through the same 32-split writer), the first ratios ever
recorded on the events axis (the corpus builder symlinks events
unchanged, so this family was previously unprobed).  The BATCH rows
are flat at both sizes — task-overhead-bound with zero super-linear
leakage (keyed session/window/funnel state stays per-user, sketches
stay fixed-size)::

    query                             K=4    K=8  (data 4.0 / 8.0)
    sessionize_events                0.82x  1.03x
    session_window_events            1.04x  1.27x
    funnel_conversion                1.01x  1.04x
    activity_streaks                 1.15x  1.26x
    time_weighted_value              0.88x  1.01x
    daily_event_sequence             0.78x  1.08x
    latest_event_per_user            0.84x  1.02x
    hll_union_rollup                 1.02x  1.02x
    cms_heavy_hitters                0.78x  0.88x
    debounce_events                  0.93x  1.08x
    hourly_event_ohlc                0.96x  1.10x
    variant_props_rollup             1.22x  1.16x
    hll_sketch_refresh               0.91x  0.90x  (the query the old
                                             hll note recorded as
                                             unprobeable before this
                                             axis existed)
    hll_distinct_users               1.15x  1.34x

STREAMING events-mode rows (measured 2026-08-16 AFTER the
stream_table_source layout fix — the first same-day attempt drained
zero micro-batches on both sides because the parent-dir glob matched
nothing against directory-layout tables; those empty-stream ratios
were never folded into this table).  With real ingest on both sides,
every mechanism lands at or under the data ratio; the only entries
clearly above 1x are the per-key PYTHON state pair, whose cost is
linear in user-group count by construction (grouped applyInPandas
pays ~ms per group), i.e. sub-linear vs data at both sizes::

    query                             K=4    K=8  (data 4.0 / 8.0)
    streaming_hourly_rollup          0.88x  1.02x
    streaming_sliding_rollup         1.05x  1.04x
    streaming_dedup_within_watermark 1.28x  1.16x
    stream_stream_click_error        0.99x  1.13x
    stream_stream_click_error_outer  1.02x  1.46x
    streaming_cms_heavy_hitters      0.79x  0.85x
    streaming_upsert_latest_event    1.25x  1.10x
    streaming_dedup_counts           1.08x  0.76x
    stream_static_enrich             0.97x  0.80x
    sessionize_stateful_stream       2.48x  4.21x  (per-user-group
                                             Python state: linear in
                                             groups, sub-linear in
                                             data)
    tws_user_type_rollup             1.94x  3.87x  (same family)

Events-axis K=16 octave (``events 16``, 2026-08-16, extending the
r16 rows above; same loud-day session as the corpus octaves — both
sides share the session, ratios hold).  Batch and JVM-state
streaming rows stay FLAT a full octave further; the per-key Python
state pair continues its linear-in-user-groups curve (16x groups ->
5.6-5.7x time: the ~ms-per-group applyInPandas overhead amortizing,
still 3x under the data ratio)::

    query                             K=16  (data ratio 16.0)
    sessionize_events                1.58x
    funnel_conversion                1.09x
    hll_union_rollup                 0.96x
    cms_heavy_hitters                0.97x
    streaming_hourly_rollup          0.87x
    streaming_sliding_rollup         1.13x
    streaming_dedup_within_watermark 1.21x
    stream_stream_click_error        0.97x
    sessionize_stateful_stream       5.61x  (2.72s -> 15.27s)
    tws_user_type_rollup             5.71x  (3.78s -> 21.58s)

Events-axis K=32 octave (``events 32``, 2026-08-16) — third octave.
Batch and JVM-state streaming rows stay FLAT at 32x events
(funnel_conversion 1.50x, hll_union_rollup 1.20x,
streaming_hourly_rollup 0.82x, stream_stream_click_error 1.44x).
The per-key PYTHON state pair continues exactly its designed
linear-in-groups curve: read the K-side absolute step, not the
cross-session ratio (this session's rebuilt 1x sides ran faster
than the K=16 session's) — sessionize_stateful_stream 15.27s at
K=16 -> 34.22s at K=32 (2.24x per 2x data), tws_user_type_rollup
21.58s -> 39.38s (1.82x per 2x data); the ~ms-per-group
applyInPandas constant dominates and both remain under the 32.0
data ratio (21.55x / 12.23x vs their same-session 1x sides).  At
real scale the pair's cost is bounded by user-group count, which is
the documented reason the JVM-state paths (window/dedup/
stream-stream) exist for volume-proportional state::

    query                             K=32  (data ratio 32.0)
    funnel_conversion                1.50x
    hll_union_rollup                 1.20x
    streaming_hourly_rollup          0.82x
    stream_stream_click_error        1.44x
    sessionize_stateful_stream      21.55x  (1.59s -> 34.22s)
    tws_user_type_rollup            12.23x  (3.22s -> 39.38s)

Events-axis K=64 octave for the per-key PYTHON-state pair (``events
64 sessionize_stateful_stream tws_user_type_rollup``, 2026-08-16) —
the fourth octave, run to read the pair's step DIRECTLY from one
more doubling rather than inferring it from cross-session ratios.
K-side absolute step per 2x data: sessionize 34.22s (K=32) ->
72.50s (K=64) = 2.12x; tws 39.38s -> 72.50s = 1.84x — both matching
their K=16->K=32 steps (2.24x / 1.82x): the ms-per-group
applyInPandas constant still dominates and the curve is exactly
linear-in-groups as designed.  Same-session 1x sides: sessionize
2.10s, tws 6.16s (this session's rebuilt 1x sides ran ~1.3-1.9x the
K=32 session's 1.59s/3.22s — the documented cross-session 1x-side
variance, which is why the octave is read K-side absolute).  The
two K-side bests landing on the same 72.50s is min-of-2 coincidence
of two converging curves, not shared timing: the 1x sides differ
3x.  At real scale the pair's cost is group-count-bounded; the
JVM-state paths remain the volume-proportional choice::

    query                             K=64  (data ratio 64.0)
    sessionize_stateful_stream      34.57x  (2.10s -> 72.50s)
    tws_user_type_rollup            11.77x  (6.16s -> 72.50s)

Events-axis K=64 octave for the JVM-state/batch rows (``events 64
funnel_conversion hll_union_rollup streaming_hourly_rollup
stream_stream_click_error``, 2026-08-16, r19) — the fourth octave
for the rows that were flat at K=32, completing the axis at the
same depth as the per-key pair above.  All four stay essentially
flat at 64x events (~6.4M rows): the windowed/watermarked state is
volume-proportional but the per-micro-batch fixed costs still
dominate at this absolute size, and no super-linear term appears
two octaves past K=16::

    query                             K=64  (data ratio 64.0)
    funnel_conversion                2.09x  (1.56s -> 3.25s)
    hll_union_rollup                 1.24x
    streaming_hourly_rollup          0.92x
    stream_stream_click_error        1.88x  (2.99s -> 5.60s)

Events-axis K=128 octave, same four JVM-state/batch rows (``events
128 ...``, 2026-08-16, r19, late-session) — fifth octave, ~12.8M
events.  Three rows remain essentially flat; the stream-stream join
steps 5.60s -> 10.31s = 1.84x per 2x data — its watermark-bounded
join state is genuinely volume-proportional, so a sub-2x/doubling
step at 40x+ under the data ratio is the designed curve, not a
leak::

    query                             K=128  (data ratio 128.0)
    funnel_conversion                1.85x  (1.75s ->  3.23s)
    hll_union_rollup                 1.63x
    streaming_hourly_rollup          1.20x
    stream_stream_click_error        3.09x  (3.34s -> 10.31s)

Rounds-vs-size (``python scripts/scale_probe.py rounds``, sf0.1 base)
— hash-min CC and CC-star rounds stay FLAT while edges scale exactly
linearly, confirming the contraction is diameter-bounded, not
size-bounded (the scaled replicas are graph-isomorphic per replica,
so diameter is constant by construction)::

    K   edges  cc_rounds  star_rounds
    1     256      2           2
    2     512      2           2
    4    1024      2           2
    8    2048      2           2
   16    4096      2           2   (r17: still flat at the K=16
                                    octave, matching the corpus/
                                    events/facts probes' depth)
   32    8192      2           2   (r18: flat at K=32 — all four
                                    probe tables now reach ~2M-doc/
                                    32x depth; contraction remains
                                    diameter-bounded by construction)
   64   16384      2           2   (r19: still flat at K=64 —
                                    cc 1.61s / star 2.08s wall;
                                    edges double, rounds do not)
  128   32768      2           2   (r19 late-session: flat at K=128
                                    — cc 2.13s / star 2.43s wall;
                                    all three data axes and this
                                    rounds curve now reach K=128)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")

from pyspark.sql import functions as F  # noqa: E402

from myfitnesspaw_spark.plans import registry  # noqa: E402
from myfitnesspaw_spark.session import get_spark  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

PROBES = [
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "dedup_clusters_star",
    "embedding_near_dup",
    "ann_topk_cosine",
    "lang_id",
    "sequence_packing",
    "inverted_index_build",
    # round-5 additions: the new LSH family, compressed-domain ANN,
    # semantic dedup, and the LM/classifier scoring passes.
    "srp_lsh_pairs",
    "pq_ann_topk",
    "semantic_dedup",
    "bigram_lm_score",
    "quality_classifier_score",
    "pagerank_dedup_graph",
    "sorted_neighborhood_pairs",
    "corpus_build_pipeline",
    "hard_negative_mining",
    "bpe_merge_candidates",
    # round-6 addition: the farthest-first-seeded SemDeDup variant.
    "semantic_dedup_kpp",
    # round-7 additions (VERDICT r6 #5): the degree-ordered wedge join
    # and the contamination-removal ANTI.
    "dedup_graph_triangles",
    "decontaminated_corpus",
    # round-7 new ops: DSIR selection and the hashed-key span profile.
    "dsir_selection",
    "repeated_ngram_spans",
    "corpus_refresh_pipeline",
    # round-8 addition: URL-normalization dedup (scan-local
    # canonicalization + one hash shuffle — must track data ratio).
    "url_dedup",
    # r8 broadening: the retrieval-scoring pair over the inverted
    # index (corpus-stat broadcasts + TakeOrderedAndProject top-K —
    # both must stay linear in the posting count).
    "bm25_rank",
    "tf_idf_topk",
    # round-9 additions: the MinHash end-to-end closure (candidate-
    # bounded LSH + CC on the pair graph only) and the ExactSubstr
    # cut (gram-keyed profile + doc-keyed reconstruction) — both must
    # track the data ratio, never the pair/window square.
    "minhash_dedup_e2e",
    "exact_substring_removal",
    "neardup_refresh_pipeline",
    # r9 late additions: the rule-funnel (map-only — must track the
    # scan) and the LSH estimator calibration (candidate-bounded like
    # the stage query it certifies).
    "quality_filter_cascade",
    "minhash_jaccard_calibration",
    # r9: the ANN accuracy contract — brute-force truth side grows
    # with the K² pair space like ann_topk_cosine (compare against
    # 16x/64x, not the data ratio).
    "ivf_recall_eval",
    # r11: the PQ accuracy contract (same K² truth-side caveat as
    # ivf_recall_eval) and the codegen BPE encode pass (vocab-sized
    # shuffle — must track well under the data ratio).
    "pq_recall_eval",
    "bpe_apply_merges",
    # r11: the signature-persisting LSH refresh — O(batch bands +
    # candidate activity); the base corpus contributes only the
    # persisted store side of the probe join.
    "minhash_signature_refresh",
    # r11: the bloom prefilter is scan-local, so it must track the
    # scan, never a join square.  (hll_sketch_refresh is NOT probed
    # here: its scale axis is events, which this builder symlinks
    # unchanged — a ratio over identical data certifies nothing; its
    # scale story is the fixed-size mergeable-sketch bound itself.)
    "bloom_decontaminated_corpus",
    # r11: group-hash splitting — pair graph + CC stay near-dup-sized,
    # corpus side is one label join + row-local bucket projection.
    "leakage_safe_split",
    # r11: per-query MMR — candidate top-N is the anchors×corpus scan
    # (K² pair space like ann_topk_cosine); the greedy fold itself is
    # row-local and candidate-pool-bounded.
    "mmr_rerank",
    # r11: label-store CC maintenance — refresh CC input is label-
    # table + batch-activity sized, never the full pair graph.
    "incremental_cc_refresh",
    # r12: the stored-shingle-index variant — refresh side is
    # O(|store| read + |batch| compute) with no base re-tokenize; the
    # probe's residual growth is the simulated prior run seeding the
    # two stores (scan-linear by design).
    "indexed_cc_refresh",
    # r21 (VERDICT r20 #4): the scaling-≈1 cohort's survivor query —
    # probed at 8 vs 32 cores per octave to separate fixed latency
    # from a genuine serialization.
    "dedup_survivors",
    # r15: the ONLINE half of minhash_signature_refresh's protocol —
    # the stream side MinHash-signs row-locally (no stream state) and
    # probes the persisted band store through a stateless stream-
    # static join, so ingest cost must be O(batch bands + collision
    # activity); the store contributes the scan-linear simulated
    # prior run plus the store side of the probe join.  Streaming
    # micro-batch fixed cost is K-invariant, so the ratio UNDERSTATES
    # data growth at this absolute size — the load-bearing claim is
    # the absence of super-linear collision blow-up on the K×-wider
    # hot bands.
    "streaming_lsh_ingest_probe",
]

# Fact-table probes (``python scripts/scale_probe.py facts [K]``):
# queries whose scale axis is orders/lineitem, not the corpus.  The
# facts builder replicates orders+lineitem with shifted orderkeys
# (suppkey/custkey unchanged), so per-order structure is preserved
# exactly and the work should grow linearly in K.
FACT_PROBES = [
    "q21_waiting_suppliers",
    "top_unshipped_orders",
    "unreturned_orders",
    # r7 broadening: the multi-dim join chains and the heavy
    # lineitem aggregation families.
    "q7_volume_shipping",
    "q8_market_share",
    "q19_disjunctive_brackets",
    "progress_report",
    "nutrition_report",
    # r8: rotation deletion list — the manifest distinct collapses
    # the shifted-key replicas (same dates/stores), so the post-scan
    # shuffle stays LISTING-sized and time should grow only with the
    # fact scan, well under the data ratio.
    "backup_rotation_plan",
    # r8 broadening: the four short OLAP chains that led r7's raw
    # >1.5x bench band (host noise per the calibration) — a linear
    # probe ratio is the direct evidence the band is weather, not a
    # plan problem.
    "cust_order_distribution",
    "lateral_topk_customers",
    "late_ship_priority",
    "salted_priority_revenue",
]

# Event-table probes (``python scripts/scale_probe.py events [K]``):
# the behavioral/streaming family, whose scale axis is the events
# table — previously UNPROBED (the corpus builder symlinks events
# unchanged, and the book's hll note records that a ratio over
# identical data certifies nothing).  The events builder replicates
# with shifted user_id/event_id and UNCHANGED timestamps: per-user
# event sequences are exactly isomorphic across replicas, so
# sessions, streaks, funnels, argmaxes and per-user join structure
# are replica-local and the expected growth is linear; timestamps
# unchanged means the time axis keeps its range with K× density, so
# windowed aggregates grow by groups (users), never by window count,
# and watermark semantics are identical.  A super-linear ratio here
# would mean per-user state leaked across users (a missing key in a
# window/groupBy) or an unkeyed stream join.
EVENT_PROBES = [
    # batch behavioral: window functions, gaps-and-islands, argmax,
    # traces, sketches, JSON props.
    "sessionize_events",
    "session_window_events",
    "funnel_conversion",
    "activity_streaks",
    "time_weighted_value",
    "daily_event_sequence",
    "latest_event_per_user",
    "hll_union_rollup",
    "cms_heavy_hitters",
    "debounce_events",
    "hourly_event_ohlc",
    "variant_props_rollup",
    # streaming: windowed update-mode drain, sliding windows,
    # watermarked dedup, stream-stream join, per-key Python state
    # (applyInPandasWithState), TWS processor (v1 fallback path).
    "streaming_hourly_rollup",
    "streaming_sliding_rollup",
    "streaming_dedup_within_watermark",
    "stream_stream_click_error",
    "sessionize_stateful_stream",
    "tws_user_type_rollup",
    # second wave: the persisted-HLL refresh (the query the corpus-
    # mode hll note explicitly recorded as UNPROBEABLE before this
    # axis existed), the exact/sketch distinct pair, the streaming
    # CMS, the outer stream-stream join (null-row horizon), the
    # streaming keyed upsert + dedup-count pair, and the broadcast
    # stream-static enrich.
    "hll_sketch_refresh",
    "hll_distinct_users",
    "streaming_cms_heavy_hitters",
    "stream_stream_click_error_outer",
    "streaming_upsert_latest_event",
    "streaming_dedup_counts",
    "stream_static_enrich",
]

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events",
]


def build_scaled(spark, k: int) -> str:
    out = f"/tmp/scale_probe_sf{k}"
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    for t in TABLES:  # unchanged tables: link the original files
        os.symlink(f"{BASE}/{t}.parquet", f"{out}/{t}.parquet")

    docs = spark.read.parquet(f"{BASE}/documents.parquet")

    def perturb(r: int):
        # Replica r>0 applies a BIJECTIVE per-replica vocabulary
        # substitution: every token t becomes md5(t‖r)[:8].  Token
        # order, lengths, and tf structure are preserved, so within a
        # replica the similarity graph is exactly isomorphic to the
        # original corpus (pairs grow K× — linear), while shingle
        # vocabularies of different replicas are disjoint, so replicas
        # never pair across.  Two rejected constructions, for the
        # record: appending a suffix leaves Jaccard(copy, original)
        # ≈ 0.98 (K² pair blow-up); sorting tokens by a replica key
        # CANONICALIZES order over this corpus's tiny vocabulary and
        # makes every doc near-dup every other (all-pairs explosion).
        if r == 0:
            return F.col("text")
        toks = F.split(F.col("text"), " ")
        return F.array_join(
            F.transform(
                toks,
                lambda t: F.substring(F.md5(F.concat(t, F.lit(str(r)))), 1, 8),
            ),
            " ",
        )

    replicas = [
        docs.select(
            (F.col("doc_id") + r * 10_000_000).alias("doc_id"),
            perturb(r).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for r in range(k)
    ]
    sdocs = replicas[0]
    for rdf in replicas[1:]:
        sdocs = sdocs.unionByName(rdf)
    sdocs.repartition(32).write.parquet(f"{out}/documents.parquet")

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    dim = len(emb.select("embedding").head()["embedding"])
    ereps = []
    for r in range(k):
        rot = r % dim
        rotated = (
            F.col("embedding")
            if rot == 0
            else F.concat(
                F.slice(F.col("embedding"), rot + 1, dim - rot),
                F.slice(F.col("embedding"), 1, rot),
            )
        )
        ereps.append(
            emb.select(
                (F.col("vec_id") + r * 10_000_000).alias("vec_id"),
                rotated.alias("embedding"),
                # Shifted labels: coarse-bucket COUNT grows with the
                # data (as a real IVF index re-trained at scale would)
                # so per-bucket pair spaces stay bounded — without
                # this the probe measures the by-design quadratic of
                # ever-fatter fixed buckets, not the engine.
                (F.col("label") + r * 1000).alias("label"),
            )
        )
    semb = ereps[0]
    for rdf in ereps[1:]:
        semb = semb.unionByName(rdf)
    semb.repartition(32).write.parquet(f"{out}/embeddings.parquet")
    return out


def build_scaled_facts(spark, k: int) -> str:
    """K×-scaled orders+lineitem with shifted orderkeys: every other
    table (and the corpus) is linked unchanged.  Replicas are
    per-order isomorphic — the same lineitems, suppliers, dates under
    a shifted key — so a key-bounded plan (semi/anti per orderkey,
    per-supplier counts) must grow linearly; a per-row re-scan or an
    unkeyed join would show its quadratic here."""
    out = f"/tmp/scale_probe_facts_sf{k}"
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    for t in TABLES + ["documents", "embeddings"]:
        if t in ("orders", "lineitem"):
            continue
        os.symlink(f"{BASE}/{t}.parquet", f"{out}/{t}.parquet")

    shift = 1_000_000_000
    for table, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        df = spark.read.parquet(f"{BASE}/{table}.parquet")
        # Same collision guard as build_scaled_events (ADVICE r15 #4).
        mx = df.agg(F.max(key).alias("m")).collect()[0]["m"]
        # Explicit raise, not assert: `python -O` strips asserts and
        # would silently disable this collision guard (ADVICE r16 #3).
        if mx >= shift:
            raise ValueError(f"{table}.{key} max {mx} >= replica shift")
        reps = [
            df.withColumn(key, F.col(key) + F.lit(r * shift)) for r in range(k)
        ]
        sdf = reps[0]
        for rdf in reps[1:]:
            sdf = sdf.unionByName(rdf)
        sdf.repartition(32).write.parquet(f"{out}/{table}.parquet")
    return out


def build_scaled_events(spark, k: int) -> str:
    """K×-scaled events with shifted user_id/event_id and unchanged
    timestamps: every other table (and the corpus) is linked
    unchanged.  Replicas are per-user isomorphic — the same event
    sequence under a shifted user — so keyed session/window/funnel
    state and per-user stream-join structure must grow linearly; the
    shared time axis (unchanged ts) keeps window COUNTS constant
    while window populations grow K×.  The 1x side is rebuilt through
    the same 32-split writer (same stance as facts/rebuilt modes) so
    both sides share a split layout — which also matters for the
    STREAMING probes, whose micro-batch structure follows the file
    listing.  Reading through load_table normalizes ts to NTZ-µs, so
    the rebuilt files carry TIMESTAMP(MICROS) footers — a layout both
    the batch loader and read_events_stream sniff and accept."""
    from myfitnesspaw_spark.sources import load_table

    out = f"/tmp/scale_probe_events_sf{k}"
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    for t in TABLES + ["documents", "embeddings"]:
        if t == "events":
            continue
        os.symlink(f"{BASE}/{t}.parquet", f"{out}/{t}.parquet")

    ev = load_table(spark, BASE, "events")
    # Replica shifts must clear the base ID ranges or replica keys
    # silently collide and the per-user-isomorphism assumption behind
    # the probe's linearity claims breaks (ADVICE r15 #4; same latent
    # pattern as build_scaled_facts).
    mx = ev.agg(
        F.max("event_id").alias("e"), F.max("user_id").alias("u")
    ).collect()[0]
    # Explicit raises, not asserts: `python -O` strips asserts and
    # would silently disable these collision guards (ADVICE r16 #3).
    if mx["e"] >= 1_000_000_000:
        raise ValueError(f"event_id {mx['e']} >= replica shift")
    if mx["u"] >= 10_000_000:
        raise ValueError(f"user_id {mx['u']} >= replica shift")
    reps = [
        ev.select(
            (F.col("event_id") + r * 1_000_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + r * 10_000_000).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for r in range(k)
    ]
    sdf = reps[0]
    for rdf in reps[1:]:
        sdf = sdf.unionByName(rdf)
    sdf.repartition(32).write.parquet(f"{out}/events.parquet")
    return out


def time_query(spark, fn, sf_dir: str, reps: int = 2) -> float:
    import gc

    best = None
    for _ in range(reps):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def rounds_probe(ks: list[int]) -> None:
    """Rounds-vs-size curve for the iterative graph operators.

    Hash-min CC converges in O(graph diameter) rounds and CC-star in
    O(log² n); PageRank runs a FIXED round count, so its scaling axis
    is time-per-round.  A rounds curve that grows linearly with K
    would mean the contraction is broken (diameter tracking corpus
    size); the healthy signature is flat-to-logarithmic rounds with
    roughly data-proportional per-round time.

    Hash-min runs with ``driver_max_edges=0``: every graph here is
    small enough for ``connected_components``' driver labeling, whose
    numpy passes are not the Spark rounds this curve tracks.

    Usage: ``python scripts/scale_probe.py rounds [K ...]``
    (default K = 1 2 4 8).
    """
    from myfitnesspaw_spark.operators.dedup import (
        connected_components,
        connected_components_star,
        jaccard_pairs_prefix,
        shingle_sets,
    )
    from myfitnesspaw_spark.sources import load_table, scatter

    spark = get_spark(
        "scale_probe_rounds", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    )
    print(f"{'K':>3s} {'edges':>9s} {'cc_rounds':>9s} {'star_rounds':>11s}"
          f" {'cc_sec':>7s} {'star_sec':>8s}")
    for k in ks:
        sf_dir = BASE if k == 1 else build_scaled(spark, k)
        docs = scatter(load_table(spark, sf_dir, "documents"))
        sh = shingle_sets(docs, "doc_id", "text", n=3)
        pairs = (
            jaccard_pairs_prefix(sh, "doc_id", 0.8)
            .select("id_a", "id_b")
            .localCheckpoint()
        )
        n_edges = pairs.count()
        st_cc: dict = {}
        t0 = time.perf_counter()
        connected_components(pairs, stats=st_cc, driver_max_edges=0).write.format(
            "noop"
        ).mode("overwrite").save()
        t_cc = time.perf_counter() - t0
        st_star: dict = {}
        t0 = time.perf_counter()
        connected_components_star(pairs, stats=st_star).write.format("noop").mode(
            "overwrite"
        ).save()
        t_star = time.perf_counter() - t0
        print(
            f"{k:3d} {n_edges:9d} {st_cc.get('rounds', -1):9d}"
            f" {st_star.get('rounds', -1):11d} {t_cc:7.2f} {t_star:8.2f}",
            flush=True,
        )


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "rounds":
        rounds_probe([int(x) for x in sys.argv[2:]] or [1, 2, 4, 8])
        return
    facts_mode = len(sys.argv) > 1 and sys.argv[1] == "facts"
    # ``rebuilt`` = corpus mode with the 1x side rebuilt through the
    # same writer (like facts mode always does): the raw base
    # documents.parquet is single-split, so store-building/scan-heavy
    # probes are scan-parallelism-bound at 1x and ratios understate —
    # streaming_lsh_ingest_probe even measures raw-1x SLOWER than 4x.
    # Opt-in (not default) because every historical table in this
    # docstring was measured against the raw base; note which mode a
    # recorded ratio used.  Side effect to be aware of: the rebuilt
    # base dir name embeds sf1, so scale-aware knobs see a LARGE
    # perceived scale on BOTH sides — the comparison is then
    # cluster-path vs cluster-path, which is what a growth claim
    # should compare anyway.
    rebuilt_mode = len(sys.argv) > 1 and sys.argv[1] == "rebuilt"
    # ``events`` = the behavioral/streaming family over a K×-replicated
    # events table (shifted users, unchanged timestamps); 1x side
    # rebuilt through the same writer, like facts mode.
    events_mode = len(sys.argv) > 1 and sys.argv[1] == "events"
    if facts_mode or rebuilt_mode or events_mode:
        sys.argv.pop(1)
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    only = set(sys.argv[2:])
    spark = get_spark("scale_probe", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None)
    qs = registry.queries()
    if events_mode:
        base_facts = build_scaled_events(spark, 1)
        scaled = build_scaled_events(spark, k)
        probes = EVENT_PROBES
        print(f"scaled events at {scaled} ({k}x events, 1x side rebuilt at {base_facts})\n")
    elif facts_mode:
        # The 1x side is REBUILT through the same writer (k=1) so both
        # sides have identical split layout - otherwise the few-split
        # base parquet is scan-parallelism-bound and ratios understate.
        base_facts = build_scaled_facts(spark, 1)
        scaled = build_scaled_facts(spark, k)
        probes = FACT_PROBES
        print(f"scaled facts at {scaled} ({k}x orders/lineitem, 1x side rebuilt at {base_facts})\n")
    else:
        base_facts = build_scaled(spark, 1) if rebuilt_mode else None
        scaled = build_scaled(spark, k)
        probes = PROBES
        print(f"scaled corpus at {scaled} ({k}x documents/embeddings"
              + (f", 1x side rebuilt at {base_facts}" if rebuilt_mode else "")
              + ")\n")
    print(f"{'query':28s} {'1x':>7s} {'%dx' % k:>7s}  t-ratio (data-ratio {k}.0)")
    base_side = (
        base_facts if (facts_mode or rebuilt_mode or events_mode) else BASE
    )
    for name in probes:
        if only and name not in only:
            continue
        t1 = time_query(spark, qs[name], base_side)
        tk = time_query(spark, qs[name], scaled)
        print(f"{name:28s} {t1:6.2f}s {tk:6.2f}s  {tk / t1:6.2f}x", flush=True)


if __name__ == "__main__":
    main()
