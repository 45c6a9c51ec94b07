"""Populate the named-query registry (driver contract).

Importing this module registers every named query.  Each registration
pairs the Spark plan with its DuckDB oracle; names and column aliases
must match exactly between the two (the driver sorts columns by name
and hash-compares values).

The registration order is fixed, and the first three entries
(flagship, one streaming path, one dedup path) are the permanent
canaries.
"""
from __future__ import annotations

from myfitnesspaw_spark.plans import (
    behavior_queries as bq,
    core_ops,
    curation_queries as cq,
    etl_flow as ef,
    integrity_queries as iq,
    io_queries as ioq,
    maintenance_queries as mq,
    normalize_queries as nq,
    olap_queries as oq,
    pipeline_queries as pq,
    sampling_queries as smp,
    stream_queries as sq,
    text_queries as tq,
    udaf_queries as uq,
)
from myfitnesspaw_spark.plans.nutrition import NUTRITION_ORACLE, nutrition_plan
from myfitnesspaw_spark.plans.progress import (
    CHART_RENDER_ORACLE,
    PROGRESS_ORACLE,
    chart_render_pixels,
    progress_plan,
)
from myfitnesspaw_spark.plans.registry import register

register("progress_report", PROGRESS_ORACLE)(progress_plan)
register("streaming_hourly_rollup", sq.STREAMING_ROLLUP_ORACLE)(sq.streaming_rollup)
register("dedup_clusters", tq.DEDUP_CLUSTERS_ORACLE)(tq.dedup_clusters)
register("approx_quantiles_contract", oq.APPROX_QUANTILES_ORACLE)(
    oq.approx_quantiles_contract
)
register("late_ship_priority", oq.LATE_SHIP_PRIORITY_ORACLE)(oq.late_ship_priority)
register("cust_order_distribution", oq.CUST_ORDER_DIST_ORACLE)(
    oq.cust_order_distribution
)
register("lineitem_unpivot", oq.LINEITEM_UNPIVOT_ORACLE)(oq.lineitem_unpivot)
register("spend_rank_dist", oq.SPEND_RANK_DIST_ORACLE)(oq.spend_rank_dist)
register("salted_priority_revenue", oq.SALTED_PRIORITY_REVENUE_ORACLE)(
    oq.salted_priority_revenue
)
register("order_trend_slope", uq.ORDER_TREND_SLOPE_ORACLE)(uq.order_trend_slope)
register("hourly_event_ohlc", oq.HOURLY_OHLC_ORACLE)(oq.hourly_event_ohlc)
register("promo_revenue_share", oq.PROMO_REVENUE_SHARE_ORACLE)(oq.promo_revenue_share)
register("large_volume_customers", oq.LARGE_VOLUME_CUSTOMERS_ORACLE)(
    oq.large_volume_customers
)
register("grouping_sets_sales", oq.GROUPING_SETS_ORACLE)(oq.grouping_sets_sales)
register("correlated_latest_ship", oq.CORRELATED_LATEST_SHIP_ORACLE)(
    oq.correlated_latest_ship
)
register("price_band_join", oq.PRICE_BAND_JOIN_ORACLE)(oq.price_band_join)
register("distinct_users_per_type", oq.DISTINCT_USERS_ORACLE)(
    oq.distinct_users_per_type
)
register("tf_idf_topk", cq.TF_IDF_ORACLE)(cq.tf_idf_topk)
register("ngram_contamination", cq.NGRAM_CONTAMINATION_ORACLE)(cq.ngram_contamination)
register("repetition_quality", cq.REPETITION_ORACLE)(cq.repetition_quality)
register("pii_redact", cq.PII_REDACT_ORACLE)(cq.pii_redact)
register("scd2_user_state", cq.SCD2_ORACLE)(cq.scd2_user_state)
register("error_click_window_join", cq.ERROR_CLICK_WINDOW_ORACLE)(
    cq.error_click_window_join
)
register("price_histogram", cq.PRICE_HISTOGRAM_ORACLE)(cq.price_histogram)
register("hll_distinct_users", cq.HLL_DISTINCT_ORACLE)(cq.hll_distinct_users)
register("iqr_outlier_docs", cq.IQR_OUTLIER_ORACLE)(cq.iqr_outlier_docs)
register("etl_meals_silver", ef.ETL_MEALS_ORACLE)(ef.etl_meals_silver)
register("incremental_agg_merge", mq.INCREMENTAL_AGG_MERGE_ORACLE)(
    mq.incremental_agg_merge
)
register("mfp_api_stream_rollup", ef.MFP_API_STREAM_ORACLE)(ef.mfp_api_stream_rollup)
register("funnel_conversion", bq.FUNNEL_CONVERSION_ORACLE)(bq.funnel_conversion)
register("cohort_retention", bq.COHORT_RETENTION_ORACLE)(bq.cohort_retention)
register("activity_streaks", bq.ACTIVITY_STREAKS_ORACLE)(bq.activity_streaks)
register("time_weighted_value", bq.TIME_WEIGHTED_VALUE_ORACLE)(bq.time_weighted_value)
register("forward_fill_gauge", bq.FORWARD_FILL_ORACLE)(bq.forward_fill_gauge)
register("pq_recall_eval", pq.PQ_RECALL_ORACLE)(pq.pq_recall_eval)
register("bpe_apply_merges", pq.BPE_APPLY_ORACLE)(pq.bpe_apply_merges)
register("minhash_signature_refresh", tq.MINHASH_SIG_REFRESH_ORACLE)(
    tq.minhash_signature_refresh
)
register("bpe_doc_token_counts", pq.BPE_DOC_COUNTS_ORACLE)(pq.bpe_doc_token_counts)
register("hll_sketch_refresh", smp.HLL_SKETCH_REFRESH_ORACLE)(
    smp.hll_sketch_refresh
)
register("bloom_decontaminated_corpus", cq.DECONTAMINATED_CORPUS_ORACLE)(
    cq.bloom_decontaminated_corpus
)
register("leakage_safe_split", tq.LEAKAGE_SAFE_SPLIT_ORACLE)(
    tq.leakage_safe_split
)
register("mmr_rerank", pq.MMR_RERANK_ORACLE)(pq.mmr_rerank)
register("streaming_lsh_ingest_probe", sq.STREAMING_LSH_INGEST_ORACLE)(
    sq.streaming_lsh_ingest_probe_q
)
register("incremental_cc_refresh", tq.DEDUP_CLUSTERS_ORACLE)(
    tq.incremental_cc_refresh
)
register("daily_type_share", bq.DAILY_TYPE_SHARE_ORACLE)(bq.daily_type_share)
register("daily_event_sequence", bq.DAILY_EVENT_SEQUENCE_ORACLE)(
    bq.daily_event_sequence
)
register("hll_union_rollup", smp.HLL_UNION_ROLLUP_ORACLE)(smp.hll_union_rollup)
register("column_profile", mq.COLUMN_PROFILE_ORACLE)(mq.column_profile)
register("stratified_sample", smp.STRATIFIED_SAMPLE_ORACLE)(smp.stratified_sample)
register("passage_dedup", smp.PASSAGE_DEDUP_ORACLE)(smp.passage_dedup)
register("fixed_size_sample", smp.FIXED_SIZE_SAMPLE_ORACLE)(smp.fixed_size_sample)
register("fk_orphan_audit", iq.FK_ORPHAN_AUDIT_ORACLE)(iq.fk_orphan_audit)
register("cascade_delete_consistency", iq.CASCADE_DELETE_ORACLE)(
    iq.cascade_delete_consistency
)
register("etl_mealentries_silver", ef.ETL_MEALENTRIES_ORACLE)(
    ef.etl_mealentries_silver
)
register("etl_exercises_silver", ef.ETL_EXERCISES_ORACLE)(ef.etl_exercises_silver)
register("mfp_api_datasource", ef.MFP_API_DS_ORACLE)(ef.mfp_api_datasource)
register("q8_market_share", oq.Q8_MARKET_SHARE_ORACLE)(oq.q8_market_share)
register("bigram_lm_score", pq.BIGRAM_LM_ORACLE)(pq.bigram_lm_score)
register("semantic_dedup_kpp", pq.SEMDEDUP_KPP_ORACLE)(pq.semantic_dedup_kpp)
register("tws_user_type_rollup", sq.TWS_USER_TYPE_ROLLUP_ORACLE)(
    sq.tws_user_type_rollup_q
)
register("ivf_ann_topk_kpp", pq.IVF_KPP_ORACLE)(pq.ivf_ann_topk_kpp)
register("decontaminated_corpus", cq.DECONTAMINATED_CORPUS_ORACLE)(
    cq.decontaminated_corpus
)
register("dedup_graph_triangles", tq.DEDUP_TRIANGLES_ORACLE)(
    tq.dedup_graph_triangles
)
register("q21_waiting_suppliers", oq.Q21_WAITING_ORACLE)(
    oq.q21_waiting_suppliers
)
register("chart_render_pixels", CHART_RENDER_ORACLE)(chart_render_pixels)
register("dsir_selection", pq.DSIR_SELECTION_ORACLE)(pq.dsir_selection)
register("repeated_ngram_spans", cq.REPEATED_SPANS_ORACLE)(cq.repeated_ngram_spans)
register("corrupt_record_audit", ioq.CORRUPT_RECORD_ORACLE)(ioq.corrupt_record_audit)
register("corpus_refresh_pipeline", cq.CORPUS_REFRESH_ORACLE)(
    cq.corpus_refresh_pipeline
)
register("csv_roundtrip_nation", ioq.CSV_ROUNDTRIP_ORACLE)(ioq.csv_roundtrip_nation)
register("jsonl_roundtrip_purchases", ioq.JSONL_ROUNDTRIP_ORACLE)(
    ioq.jsonl_roundtrip_purchases
)
register("orc_roundtrip_part", ioq.ORC_ROUNDTRIP_ORACLE)(ioq.orc_roundtrip_part)
register("partitioned_orders_prune", ioq.PARTITIONED_PRUNE_ORACLE)(
    ioq.partitioned_orders_prune
)
register("schema_evolution_merge", ioq.SCHEMA_EVOLUTION_ORACLE)(
    ioq.schema_evolution_merge
)
register("lateral_topk_customers", oq.LATERAL_TOPK_ORACLE)(oq.lateral_topk_customers)
register("unreturned_orders", oq.UNRETURNED_ORDERS_ORACLE)(oq.unreturned_orders)
register("debounce_events", oq.DEBOUNCE_EVENTS_ORACLE)(oq.debounce_events)
register("cms_heavy_hitters", smp.CMS_HEAVY_HITTERS_ORACLE)(smp.cms_heavy_hitters)
register("bm25_rank", cq.BM25_ORACLE)(cq.bm25_rank)
register("weighted_sample", smp.WEIGHTED_SAMPLE_ORACLE)(smp.weighted_sample)
register("embedding_dim_stats", tq.EMBEDDING_DIM_STATS_ORACLE)(tq.embedding_dim_stats)
register("indexed_cc_refresh", tq.DEDUP_CLUSTERS_ORACLE)(tq.indexed_cc_refresh)
register("variant_props_rollup", nq.VARIANT_PROPS_ROLLUP_ORACLE)(
    nq.variant_props_rollup
)
register("snapshot_full_outer_diff", mq.SNAPSHOT_FULL_OUTER_ORACLE)(
    mq.snapshot_full_outer_diff
)
register("zorder_code_layout", mq.ZORDER_CODE_ORACLE)(mq.zorder_code_layout)
register("nutrition_report", NUTRITION_ORACLE)(nutrition_plan)
register("cdc_diff", core_ops.CDC_DIFF_ORACLE)(core_ops.cdc_diff)
register("upsert_keep_latest", core_ops.UPSERT_ORACLE)(core_ops.upsert_orders)
register("date_spine_gaps", core_ops.DATE_SPINE_ORACLE)(core_ops.date_spine_gaps)
register("topk_retention", core_ops.TOPK_RETENTION_ORACLE)(core_ops.topk_retention)
register("point_lookup", core_ops.POINT_LOOKUP_ORACLE)(core_ops.point_lookup_customers)
register("latest_event_per_user", core_ops.LATEST_EVENT_ORACLE)(
    core_ops.latest_event_per_user
)
register("text_stats", tq.TEXT_STATS_ORACLE)(tq.text_stats)
register("lang_id", tq.LANG_ID_ORACLE)(tq.lang_id)
register("doc_fingerprint", tq.DOC_FINGERPRINT_ORACLE)(tq.doc_fingerprint)
register("exact_dedup", tq.EXACT_DEDUP_ORACLE)(tq.exact_dedup)
register("ngram_jaccard_pairs", tq.NGRAM_JACCARD_ORACLE)(tq.ngram_jaccard_pairs)
register("train_val_test_split", tq.TRAIN_SPLIT_ORACLE)(tq.train_val_test_split)
register("sentence_split", tq.SENTENCE_SPLIT_ORACLE)(tq.sentence_split)
register("minhash_lsh_pairs", tq.MINHASH_LSH_ORACLE)(tq.minhash_lsh_pairs_q)
register("simhash_pairs", tq.SIMHASH_ORACLE)(tq.simhash_pairs_q)
register("ann_topk_cosine", tq.ANN_TOPK_ORACLE)(tq.ann_topk_cosine)
register("ivf_ann_topk", tq.IVF_ANN_ORACLE)(tq.ivf_ann_topk)
register("kmeans_clusters", tq.KMEANS_ORACLE)(tq.kmeans_clusters)
register("nest_explode_lineitems", nq.NEST_EXPLODE_ORACLE)(nq.nest_explode_lineitems)
register("multi_format_dates", nq.MULTI_FORMAT_DATES_ORACLE)(nq.multi_format_dates)
register("sessionize_events", sq.SESSIONIZE_ORACLE)(sq.sessionize_events)
register("dedup_clusters_star", tq.DEDUP_CLUSTERS_ORACLE)(tq.dedup_clusters_star)
register("sentence_split_udtf", tq.SENTENCE_SPLIT_ORACLE)(tq.sentence_split_udtf)
register("notes_filter", nq.NOTES_FILTER_ORACLE)(nq.notes_filter)
register("goals_map_projection", nq.GOALS_MAP_ORACLE)(nq.goals_map_projection)
register("measures_unpivot", nq.MEASURES_UNPIVOT_ORACLE)(nq.measures_unpivot)
register("json_roundtrip", nq.JSON_ROUNDTRIP_ORACLE)(nq.json_roundtrip)
register("header_union_report", nq.HEADER_UNION_ORACLE)(nq.header_union_report)
register("two_level_explode", nq.TWO_LEVEL_EXPLODE_ORACLE)(nq.two_level_explode)
register("json_extract_props", nq.JSON_EXTRACT_ORACLE)(nq.json_extract_props)
register("url_dedup", tq.URL_DEDUP_ORACLE)(tq.url_dedup)
register("backup_rotation_plan", mq.BACKUP_ROTATION_ORACLE)(mq.backup_rotation_plan)
register("multimodal_decode", sq.MULTIMODAL_DECODE_ORACLE)(sq.multimodal_decode)
register("multimodal_frames", sq.MULTIMODAL_FRAMES_ORACLE)(sq.multimodal_frames)
register("multimodal_resize", sq.MULTIMODAL_RESIZE_ORACLE)(sq.multimodal_resize)
register("embedding_near_dup", tq.EMBEDDING_NEAR_DUP_ORACLE)(tq.embedding_near_dup)
register("streaming_sliding_rollup", sq.STREAMING_SLIDING_ORACLE)(sq.streaming_sliding)
register("recursive_user_spine", bq.RECURSIVE_USER_SPINE_ORACLE)(
    bq.recursive_user_spine
)
register("sequence_packing", cq.SEQUENCE_PACKING_ORACLE)(cq.sequence_packing)
register("inverted_index_build", cq.INVERTED_INDEX_ORACLE)(cq.inverted_index_build)
register("streaming_cms_heavy_hitters", smp.CMS_HEAVY_HITTERS_ORACLE)(
    sq.streaming_cms_heavy_hitters
)
register("dedup_survivors", tq.DEDUP_SURVIVORS_ORACLE)(tq.dedup_survivors)
register("delta_dedup_pairs", tq.DELTA_DEDUP_ORACLE)(tq.delta_dedup_pairs)
register("doc_chunk_overlap", pq.DOC_CHUNK_ORACLE)(pq.doc_chunk_overlap)
register("mixture_sample", pq.MIXTURE_SAMPLE_ORACLE)(pq.mixture_sample)
register("semantic_dedup", pq.SEMDEDUP_ORACLE)(pq.semantic_dedup)
register("srp_lsh_pairs", pq.SRP_LSH_ORACLE)(pq.srp_lsh_pairs_q)
register("stream_static_enrich", sq.STREAM_STATIC_ENRICH_ORACLE)(
    sq.stream_static_enrich_q
)
register("quality_classifier_score", pq.QUALITY_CLASSIFIER_ORACLE)(
    pq.quality_classifier_score
)
register("streaming_dedup_within_watermark", sq.STREAMING_DEDUP_ORACLE)(
    sq.streaming_dedup_within_watermark
)
register("stream_stream_click_error_outer", sq.STREAM_STREAM_OUTER_ORACLE)(
    sq.stream_stream_click_error_outer_q
)
register("pagerank_dedup_graph", pq.PAGERANK_ORACLE)(pq.pagerank_dedup_graph)
register("pq_ann_topk", pq.PQ_ANN_ORACLE)(pq.pq_ann_topk_q)
register("hard_negative_mining", pq.HARD_NEGATIVE_ORACLE)(pq.hard_negative_mining)
register("random_negative_sampling", pq.RANDOM_NEGATIVE_ORACLE)(
    pq.random_negative_sampling
)
register("corpus_build_pipeline", pq.CORPUS_BUILD_ORACLE)(pq.corpus_build_pipeline)
register("bpe_merge_candidates", pq.BPE_MERGE_ORACLE)(pq.bpe_merge_candidates)
register("q7_volume_shipping", oq.Q7_VOLUME_ORACLE)(oq.q7_volume_shipping)
register("q17_small_quantity_revenue", oq.Q17_SMALL_QTY_ORACLE)(
    oq.q17_small_quantity_revenue
)
register("q19_disjunctive_brackets", oq.Q19_BRACKETS_ORACLE)(
    oq.q19_disjunctive_brackets
)
register("q22_dormant_customers", oq.Q22_DORMANT_ORACLE)(oq.q22_dormant_customers)
register("sorted_neighborhood_pairs", pq.SNM_PAIRS_ORACLE)(
    pq.sorted_neighborhood_pairs
)
register("session_window_events", sq.SESSION_WINDOW_ORACLE)(sq.session_window_events)
register("streaming_upsert_latest_event", sq.STREAMING_UPSERT_ORACLE)(
    sq.streaming_upsert_latest_event
)
register("streaming_dedup_counts", sq.STREAMING_DEDUP_ORACLE)(sq.streaming_dedup)
register("asof_click_error", oq.ASOF_CLICK_ERROR_ORACLE)(oq.asof_click_error)
register("rollup_sales", oq.ROLLUP_SALES_ORACLE)(oq.rollup_sales)
register("cube_sales", oq.CUBE_SALES_ORACLE)(oq.cube_sales)
register("median_order_value", oq.MEDIAN_ORDER_ORACLE)(oq.median_order_value)
register("trailing_7d_spend", oq.TRAILING_7D_ORACLE)(oq.trailing_7d_spend)
register("order_cadence", oq.ORDER_CADENCE_ORACLE)(oq.order_cadence)
register("pivot_status_priority", oq.PIVOT_ORACLE)(oq.pivot_status_priority)
register("snapshot_set_ops", oq.SET_OPS_ORACLE)(oq.snapshot_set_ops)
register("regional_revenue", oq.REGIONAL_REVENUE_ORACLE)(oq.regional_revenue)
register("stream_stream_click_error", sq.STREAM_STREAM_JOIN_ORACLE)(
    sq.stream_stream_click_error_q
)
register("sessionize_stateful_stream", sq.SESSIONIZE_CLOSED_ORACLE)(
    sq.sessionize_stateful_stream
)
register("top_unshipped_orders", oq.TOP_UNSHIPPED_ORACLE)(oq.top_unshipped_orders)
register("minhash_dedup_e2e", tq.MINHASH_DEDUP_E2E_ORACLE)(tq.minhash_dedup_e2e)
register("exact_substring_removal", cq.EXACT_SUBSTRING_REMOVAL_ORACLE)(
    cq.exact_substring_removal
)
register("neardup_refresh_pipeline", tq.NEARDUP_REFRESH_ORACLE)(
    tq.neardup_refresh_pipeline
)
register("quality_filter_cascade", cq.QUALITY_FILTER_CASCADE_ORACLE)(
    cq.quality_filter_cascade
)
register("minhash_jaccard_calibration", tq.MINHASH_CALIBRATION_ORACLE)(
    tq.minhash_jaccard_calibration
)
register("ivf_recall_eval", tq.IVF_RECALL_ORACLE)(tq.ivf_recall_eval)
register("brand_nation_revenue", oq.BRAND_NATION_REVENUE_ORACLE)(
    oq.brand_nation_revenue
)
