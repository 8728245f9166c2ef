"""The contractual REGISTRY dict, driver window, and queries()/oracle_sql()
entry points.

This is the engine's correctness surface (driver contract in
``__spark_entry__.py``): each entry exercises one operator family from
SURVEY §2 (or a beyond-parity training-data operator) against the
TPC-H-ish tables at an arbitrary scale factor. Column names are
aliased identically on both sides; floating aggregates are rounded on
both sides so value-hash comparison is robust to summation order.

Registry shape: ``name -> (spark_fn, oracle_sql | None)``; oracle None
means the operator is not SQL-expressible (hash-seeded LSH and the
like) and gets the driver's weaker rows-only check. REGISTRY is the
only place a query is registered: each entry names its function and
SQL through the family module that defines them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from curw_flo2d_data_manager_spark.queries import (
    agg_windows,
    analytics_breadth,
    corpus_core,
    growth_graph_ml,
    growth_r11b,
    growth_r12,
    growth_r14,
    growth_windows,
    joins_parity,
    parity_tpch,
    render_scalar,
    sim_streams,
    store_scans,
)


# Registry order is CONTRACTUAL: the external correctness driver
# verifies only the FIRST 50 entries. Window policy (amended in round
# 11 per the round-10 advice, which caught the S-family gates rotating
# out while this comment still demanded full family coverage):
# positions 1-50 hold, in priority order, (a) never-driver-certified
# additions, (b) queries over operator code touched this round,
# (c) one gate per SURVEY §2 family whose latest certification is
# older than round N-2 — a fully re-certified family MAY rotate out
# entirely while its certification is recent, (d) the oldest-certified
# entries. Rotated-out entries remain covered by the per-round local
# full sweep (tools/check_correctness.py, all entries, sf0.01).
# tests/test_registry_window.py pins the realized window.
DRIVER_WINDOW = 50

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # ---- round-14 driver window (positions 1-50; pinned by
    # tests/test_registry_window.py): (a) the four round-14 growth
    # queries gating this round's operator rewrites (JVM-native lang
    # scores, hashed shingles, NULL-order packing, markup fast
    # paths), (b) the six gates over operator code touched this
    # round (lang_scores regexp_count form, minhash hashed shingles
    # incl. the streaming ledger and the cluster-filter composite,
    # pack_sequences label cap + NULL handling, markup lazy gates +
    # bounded ampersand pass), then (d) the certification drain: the
    # 16 remaining r7-certified entries, all 15 r9-certified
    # entries, and the 9 alphabetically-first r10-certified entries
    # -- after this window the certification union holds nothing
    # older than r10. Everything displaced stays verified by the
    # local full sweep (tools/check_correctness.py) at all three SFs
    # each round.
    # ---- (a) round-14 growth (never certified)
    "text_lang_scores": (growth_r14.text_lang_scores, growth_r14.TEXT_LANG_SCORES_SQL),
    "dedup_shingle_hashes": (
        growth_r14.dedup_shingle_hashes, growth_r14.DEDUP_SHINGLE_HASHES_SQL
    ),
    "f_pack_null_order": (
        growth_r14.f_pack_null_order, growth_r14.F_PACK_NULL_ORDER_SQL
    ),
    "text_strip_clean": (growth_r14.text_strip_clean, growth_r14.TEXT_STRIP_CLEAN_SQL),
    # ---- (b) operator code touched in round 14
    "text_lang_id": (corpus_core.text_lang_id, corpus_core.TEXT_LANG_SQL),
    "dedup_minhash_lsh": (
        corpus_core.dedup_minhash_lsh_docs, corpus_core.DEDUP_MINHASH_SQL
    ),
    "dedup_cluster_filter": (
        analytics_breadth.dedup_cluster_filter, analytics_breadth.DEDUP_CLUSTER_SQL
    ),
    "stream_corpus_neardup": (
        sim_streams.stream_corpus_neardup, sim_streams.STREAM_NEARDUP_SQL
    ),
    "f_pack_sequences": (
        analytics_breadth.f_pack_sequences, analytics_breadth.F_PACK_SQL
    ),
    "text_strip_html": (growth_r12.text_strip_html, growth_r12.TEXT_STRIP_HTML_SQL),
    # ---- (d) the 16 remaining r7-certified entries
    "sim_pagerank": (sim_streams.sim_pagerank, sim_streams.SIM_PAGERANK_SQL),
    "sim_semantic_dedup": (
        sim_streams.sim_semantic_dedup, sim_streams.SIM_SEMDEDUP_SQL
    ),
    "stream_corpus_decontam": (
        sim_streams.stream_corpus_decontam, sim_streams.STREAM_DECONTAM_SQL
    ),
    "stream_corpus_quality": (
        sim_streams.stream_corpus_quality, sim_streams.STREAM_QUALITY_SQL
    ),
    "stream_resample_events": (
        render_scalar.stream_resample_events, render_scalar.STREAM_A2_SQL
    ),
    "text_bigram_logprob": (
        analytics_breadth.text_bigram_logprob, analytics_breadth.TEXT_BIGRAM_SQL
    ),
    "text_bm25_topk": (sim_streams.text_bm25_topk, sim_streams.TEXT_BM25_SQL),
    "text_ccnet_buckets": (sim_streams.text_ccnet_buckets, sim_streams.TEXT_CCNET_SQL),
    "text_chunk_documents": (
        analytics_breadth.text_chunk_documents, analytics_breadth.TEXT_CHUNK_SQL
    ),
    "text_dsir_weights": (sim_streams.text_dsir_weights, sim_streams.TEXT_DSIR_SQL),
    "text_epoch_plan": (
        analytics_breadth.text_epoch_plan, analytics_breadth.TEXT_EPOCH_SQL
    ),
    "text_frequent_terms": (
        analytics_breadth.text_frequent_terms, analytics_breadth.TEXT_FREQ_SQL
    ),
    "text_hash_classifier": (
        sim_streams.text_hash_classifier, sim_streams.TEXT_CLASSIFIER_SQL
    ),
    "w_hampel_despike": (sim_streams.w_hampel_despike, sim_streams.W_HAMPEL_SQL),
    "w_seasonal_baseline": (
        sim_streams.w_seasonal_baseline, sim_streams.W_SEASONAL_SQL
    ),
    "w_winsorize": (sim_streams.w_winsorize, sim_streams.W_WINSOR_SQL),
    # ---- (d) the 15 r9-certified entries
    "f_domain_cap": (sim_streams.f_domain_cap, sim_streams.F_DOMAIN_CAP_SQL),
    "f_quantile_norm": (sim_streams.f_quantile_norm, sim_streams.F_QUANTILE_NORM_SQL),
    "j6_nearest_rank1": (joins_parity.j6_nearest_rank1, joins_parity.J6_SQL),
    "j8_gap_fill": (joins_parity.j8_gap_fill, joins_parity.J8_SQL),
    "j_interval_overlap": (sim_streams.j_interval_overlap, sim_streams.J_OVERLAP_SQL),
    "j_range_join": (parity_tpch.j_range_join, parity_tpch.J_RANGE_SQL),
    "sim_ivfpq": (sim_streams.sim_ivfpq, sim_streams.SIM_IVFPQ_SQL),
    "sim_kmeans": (sim_streams.sim_kmeans, sim_streams.SIM_KMEANS_SQL),
    "sim_pq_adc": (sim_streams.sim_pq_adc, sim_streams.SIM_PQ_SQL),
    "sim_pq_rerank": (sim_streams.sim_pq_rerank, sim_streams.SIM_PQ_RERANK_SQL),
    "stream_cusum_drift": (
        growth_windows.stream_cusum_events, growth_windows.STREAM_CUSUM2_SQL
    ),
    "text_char_entropy": (sim_streams.text_char_entropy, sim_streams.TEXT_ENTROPY_SQL),
    "w_hampel_user": (sim_streams.w_hampel_user, sim_streams.W_HAMPEL_USER_SQL),
    "w_interp_user": (sim_streams.w_interp_user, sim_streams.W_INTERP_USER_SQL),
    "w_linear_interp": (sim_streams.w_linear_interp, sim_streams.W_INTERP_SQL),
    # ---- (d) the 9 alphabetically-first r10-certified entries
    "a_grouping_sets": (
        growth_windows.a_grouping_sets, growth_windows.A_GROUPING_SETS_SQL
    ),
    "a_histogram": (growth_windows.a_histogram, growth_windows.A_HISTOGRAM_SQL),
    "a_histogram_equidepth": (
        growth_windows.a_histogram_equidepth, growth_windows.A_EQUIDEPTH_SQL
    ),
    "a_profile_columns": (
        growth_windows.a_profile_columns, growth_windows.A_PROFILE_SQL
    ),
    "a_rolling_actives": (
        growth_windows.a_rolling_actives, growth_windows.A_ROLLING_SQL
    ),
    "a_salted_sum": (growth_windows.a_salted_sum, growth_windows.A_SALTED_SQL),
    "dedup_containment": (
        growth_windows.dedup_containment, growth_windows.DEDUP_CONTAINMENT_SQL
    ),
    "dedup_fuzzy_names": (
        growth_windows.dedup_fuzzy_names, growth_windows.DEDUP_FUZZY_SQL
    ),
    "dedup_normalized": (
        growth_windows.dedup_normalized, growth_windows.DEDUP_NORM_SQL
    ),
    # ---- rotated out this round (certified r10+; re-swept locally
    # every round at all three SFs)
    "text_bpe_tokens": (growth_r12.text_bpe_tokens, growth_r12.TEXT_BPE_SQL),
    "sim_sparse_cosine_prefix": (
        growth_r11b.sim_sparse_cosine_prefix, growth_r11b.SIM_SPARSE_PREFIX_SQL
    ),
    "sim_sparse_cosine": (
        growth_windows.sim_sparse_cosine, growth_windows.SIM_SPARSE_COSINE_SQL
    ),
    "q18_having_topk": (parity_tpch.q18_having_topk, parity_tpch.Q18_SQL),
    "q10_returned_items": (
        analytics_breadth.q10_returned_items, analytics_breadth.Q10_SQL
    ),
    "q14_promo_share": (analytics_breadth.q14_promo_share, analytics_breadth.Q14_SQL),
    "q15_top_supplier": (analytics_breadth.q15_top_supplier, analytics_breadth.Q15_SQL),
    "q19_disjunctive": (analytics_breadth.q19_disjunctive, analytics_breadth.Q19_SQL),
    "s3_first_value_lookup": (store_scans.s3_first_value_lookup, store_scans.S3_SQL),
    "k1_fixed_width_render": (
        render_scalar.k1_fixed_width_render, render_scalar.K1_SQL
    ),
    "f6_sentinel_cleaning": (render_scalar.f6_sentinel_cleaning, render_scalar.F6_SQL),
    "j5_semi_join": (joins_parity.j5_semi_join, joins_parity.J5_SQL),
    "w2_elapsed_hours": (agg_windows.w2_elapsed_hours, agg_windows.W2_SQL),
    "x11_series_hash_id": (render_scalar.x11_series_hash_id, render_scalar.X11_SQL),
    "dedup_fingerprint": (corpus_core.dedup_fingerprint_docs, corpus_core.DEDUP_FP_SQL),
    "dedup_ngram_jaccard": (
        corpus_core.dedup_ngram_jaccard_docs, corpus_core.DEDUP_JACCARD_SQL
    ),
    "text_top_bigrams": (parity_tpch.text_top_bigrams, parity_tpch.TEXT_BIGRAMS_SQL),
    "text_pii_redact": (parity_tpch.text_pii_redact, parity_tpch.TEXT_PII_SQL),
    "s4_nearest_gauge_rain": (store_scans.s4_nearest_gauge_rain, store_scans.S4_SQL),
    "k4_rain_render": (render_scalar.k4_rain_render, render_scalar.K4_SQL),
    "a_approx_distinct": (
        analytics_breadth.a_approx_distinct, analytics_breadth.A_APPROX_SQL
    ),
    "q4_exists_semi": (parity_tpch.q4_exists_semi, parity_tpch.Q4_SQL),
    "w_ewma": (sim_streams.w_ewma, sim_streams.W_EWMA_SQL),
    "a_approx_percentiles": (
        analytics_breadth.a_approx_percentiles, analytics_breadth.A_APPROX_PCT_SQL
    ),
    "dedup_bloom_filter": (sim_streams.dedup_bloom_filter, sim_streams.DEDUP_BLOOM_SQL),
    "dedup_contam_spans": (
        sim_streams.dedup_contam_spans, sim_streams.DEDUP_CONTAM_SPANS_SQL
    ),
    "dedup_repeated_spans": (
        sim_streams.dedup_repeated_spans, sim_streams.DEDUP_SPANS_SQL
    ),
    "dedup_span_rebuild": (
        sim_streams.dedup_span_rebuild, sim_streams.DEDUP_SPAN_REBUILD_SQL
    ),
    "dedup_winnow_pairs": (
        corpus_core.dedup_winnow_pairs_docs, corpus_core.DEDUP_WINNOW_PAIRS_SQL
    ),
    "dedup_winnowing": (corpus_core.dedup_winnowing_docs, corpus_core.DEDUP_WINNOW_SQL),
    "f_length_buckets": (sim_streams.f_length_buckets, sim_streams.F_LENBUCKET_SQL),
    "f_materialize_mixture": (
        analytics_breadth.f_materialize_mixture, analytics_breadth.F_MATERIALIZE_SQL
    ),
    "f_split_assign": (analytics_breadth.f_split_assign, analytics_breadth.F_SPLIT_SQL),
    "f_weighted_sample": (
        analytics_breadth.f_weighted_sample, analytics_breadth.F_WEIGHTED_SQL
    ),
    "k2_outflow_render": (render_scalar.k2_outflow_render, render_scalar.K2_SQL),
    "k8_start_date": (parity_tpch.k8_start_date, parity_tpch.K8_START_SQL),
    "mm_binary_meta": (corpus_core.mm_binary_meta, corpus_core.MM_BINARY_SQL),
    "p2_timdep_roundtrip": (render_scalar.p2_timdep_roundtrip, render_scalar.P2_SQL),
    "q11_important_share": (
        analytics_breadth.q11_important_share, analytics_breadth.Q11_SQL
    ),
    "q20_heavy_suppliers": (
        analytics_breadth.q20_heavy_suppliers, analytics_breadth.Q20_SQL
    ),
    "q21_exclusive_failures": (
        analytics_breadth.q21_exclusive_failures, analytics_breadth.Q21_SQL
    ),
    "q8_market_share": (analytics_breadth.q8_market_share, analytics_breadth.Q8_SQL),
    "q9_product_profit": (
        analytics_breadth.q9_product_profit, analytics_breadth.Q9_SQL
    ),
    "s1_series_range_scan": (store_scans.s1_series_range_scan, store_scans.S1_SQL),
    "sim_cosine_dedup": (corpus_core.sim_cosine_dedup, corpus_core.SIM_DEDUP_SQL),
    "sim_knn_graph": (sim_streams.sim_knn_graph, sim_streams.SIM_KNN_SQL),
    "sim_label_centroids": (
        parity_tpch.sim_label_centroids, parity_tpch.SIM_CENTROID_SQL
    ),
    "g_hits": (growth_r11b.g_hits, growth_r11b.G_HITS_SQL),
    "a_gini_orders": (growth_r11b.a_gini_orders, growth_r11b.A_GINI_SQL),
    "sim_lsh_pairs": (analytics_breadth.sim_lsh_pairs, analytics_breadth.SIM_LSH_SQL),
    "text_token_counts": (corpus_core.text_token_counts, corpus_core.TEXT_TOKENS_SQL),
    "text_quality": (corpus_core.text_quality, corpus_core.TEXT_QUALITY_SQL),
    "w_moving_avg": (analytics_breadth.w_moving_avg, analytics_breadth.W_MOVAVG_SQL),
    "x_unpivot_lineitem": (
        analytics_breadth.x_unpivot_lineitem, analytics_breadth.X_UNPIVOT_SQL
    ),
    "a_cube_counts": (analytics_breadth.a_cube_counts, analytics_breadth.A_CUBE_SQL),
    "a_percentiles": (analytics_breadth.a_percentiles, analytics_breadth.A_PCT_SQL),
    "k7_merge_upsert": (parity_tpch.k7_merge_upsert, parity_tpch.K7_SQL),
    "q13_order_distribution": (
        analytics_breadth.q13_order_distribution, analytics_breadth.Q13_SQL
    ),
    "q7_nation_volume": (analytics_breadth.q7_nation_volume, analytics_breadth.Q7_SQL),
    "q2_min_supplier": (analytics_breadth.q2_min_supplier, analytics_breadth.Q2_SQL),
    "dedup_simhash": (corpus_core.dedup_simhash_docs, corpus_core.DEDUP_SIMHASH_SQL),
    "sim_ivf_topk": (render_scalar.sim_ivf_topk_docs, render_scalar.SIM_IVF_SQL),
    "q16_supplier_cnt": (analytics_breadth.q16_supplier_cnt, analytics_breadth.Q16_SQL),
    "q17_small_quantity": (parity_tpch.q17_small_quantity, parity_tpch.Q17_SQL),
    "q22_idle_customers": (
        analytics_breadth.q22_idle_customers, analytics_breadth.Q22_SQL
    ),
    "dedup_components": (
        analytics_breadth.dedup_components, analytics_breadth.DEDUP_COMPONENTS_SQL
    ),
    "dedup_passages": (
        analytics_breadth.dedup_passages, analytics_breadth.DEDUP_PASSAGES_SQL
    ),
    "text_tfidf_terms": (
        analytics_breadth.text_tfidf_terms, analytics_breadth.TEXT_TFIDF_SQL
    ),
    "text_domain_mixture": (
        analytics_breadth.text_domain_mixture, analytics_breadth.TEXT_MIXTURE_SQL
    ),
    "text_unigram_logprob": (
        analytics_breadth.text_unigram_logprob, analytics_breadth.TEXT_UNIGRAM_SQL
    ),
    "f_mixture_resample": (
        analytics_breadth.f_mixture_resample, analytics_breadth.F_MIXTURE_SQL
    ),
    "stream_corpus_dedup": (
        sim_streams.stream_corpus_dedup, sim_streams.STREAM_CORPUS_SQL
    ),
    "sim_cross_decontam": (sim_streams.sim_cross_decontam, sim_streams.SIM_CROSS_SQL),
    "dedup_contamination": (
        corpus_core.dedup_contamination, corpus_core.DEDUP_CONTAM_SQL
    ),
    "mm_decode_meta": (render_scalar.mm_decode_meta, render_scalar.MM_DECODE_SQL),
    "dedup_latest_version": (
        analytics_breadth.dedup_latest_version, analytics_breadth.DEDUP_LATEST_SQL
    ),
    "text_url_extract": (parity_tpch.text_url_extract, parity_tpch.TEXT_URL_SQL),
    "stream_dedup_events": (
        render_scalar.stream_dedup_events, render_scalar.STREAM_DEDUP_SQL
    ),
    "text_repetition_gates": (
        parity_tpch.text_repetition_gates, parity_tpch.TEXT_REPETITION_SQL
    ),
    "f_hash_sample": (analytics_breadth.f_hash_sample, analytics_breadth.F_SAMPLE_SQL),
    "f_stratified_sample": (
        analytics_breadth.f_stratified_sample, analytics_breadth.F_STRAT_SQL
    ),
    "a_rollup_cascade": (agg_windows.a_rollup_cascade, agg_windows.A_CASCADE_SQL),
    "a_session_window_native": (
        analytics_breadth.a_session_window_native,
        analytics_breadth.A_SESSION_WINDOW_SQL,
    ),
    "x_pivot_event_types": (
        analytics_breadth.x_pivot_event_types, analytics_breadth.X_PIVOT_SQL
    ),
    "a_rollup_totals": (parity_tpch.a_rollup_totals, parity_tpch.A_ROLLUP_SQL),
    "a_distinct_counts": (parity_tpch.a_distinct_counts, parity_tpch.A_DISTINCT_SQL),
    "q1_pricing_summary": (parity_tpch.q1_pricing_summary, parity_tpch.Q1_SQL),
    "q3_shipping_priority": (parity_tpch.q3_shipping_priority, parity_tpch.Q3_SQL),
    "q5_local_supplier": (parity_tpch.q5_local_supplier, parity_tpch.Q5_SQL),
    "q6_revenue_change": (parity_tpch.q6_revenue_change, parity_tpch.Q6_SQL),
    "ml_mrr": (growth_r11b.ml_mrr, growth_r11b.ML_MRR_SQL),
    "ml_map": (growth_r11b.ml_map, growth_r11b.ML_MAP_SQL),
    "ml_spearman": (growth_r11b.ml_spearman, growth_r11b.ML_SPEARMAN_SQL),
    "ml_mann_whitney": (growth_r11b.ml_mann_whitney, growth_r11b.ML_MANNWHITNEY_SQL),
    "text_js_divergence": (growth_r11b.text_js_divergence, growth_r11b.TEXT_JS_SQL),
    "ml_ttest_welch": (growth_graph_ml.ml_ttest_welch, growth_graph_ml.ML_TTEST_SQL),
    "ml_chi_square": (growth_graph_ml.ml_chi_square, growth_graph_ml.ML_CHISQ_SQL),
    "ml_mutual_info": (growth_graph_ml.ml_mutual_info, growth_graph_ml.ML_MI_SQL),
    "g_bfs_hops": (growth_graph_ml.g_bfs_hops, growth_graph_ml.G_BFS_SQL),
    "x_time_to_convert": (
        growth_graph_ml.x_time_to_convert, growth_graph_ml.X_CONVERT_SQL
    ),
    "stream_window_distinct": (
        growth_graph_ml.stream_window_distinct, growth_graph_ml.STREAM_WDIST_SQL
    ),
    "a_exact_mode": (growth_graph_ml.a_exact_mode, growth_graph_ml.A_MODE_SQL),
    "a_weighted_median": (
        growth_graph_ml.a_weighted_median, growth_graph_ml.A_WMEDIAN_SQL
    ),
    "a_moments_fixed": (growth_graph_ml.a_moments_fixed, growth_graph_ml.A_MOMENTS_SQL),
    "ml_linreg_normal": (
        growth_graph_ml.ml_linreg_normal, growth_graph_ml.ML_LINREG_SQL
    ),
    "ml_ks_statistic": (growth_graph_ml.ml_ks_statistic, growth_graph_ml.ML_KS_SQL),
    "ml_ndcg": (growth_graph_ml.ml_ndcg, growth_graph_ml.ML_NDCG_SQL),
    "g_link_predict": (growth_graph_ml.g_link_predict, growth_graph_ml.G_LINKPRED_SQL),
    "text_pmi_bigrams": (
        growth_graph_ml.text_pmi_bigrams, growth_graph_ml.TEXT_PMI_SQL
    ),
    "w_moving_median": (growth_graph_ml.w_moving_median, growth_graph_ml.W_MOVMED_SQL),
    "j_point_in_rect": (growth_graph_ml.j_point_in_rect, growth_graph_ml.J_RECT_SQL),
    "mm_frame_plan": (growth_graph_ml.mm_frame_plan, growth_graph_ml.MM_FRAMEPLAN_SQL),
    "sim_bq_hamming": (growth_graph_ml.sim_bq_hamming, growth_graph_ml.SIM_BQ_SQL),
    "g_kcore": (growth_graph_ml.g_kcore, growth_graph_ml.G_KCORE_SQL),
    "s2_grid_scan_correction": (
        store_scans.s2_grid_scan_correction, store_scans.S2_SQL
    ),
    "s6_max_end_time": (store_scans.s6_max_end_time, store_scans.S6_SQL),
    "p1_hychan_roundtrip": (render_scalar.p1_hychan_roundtrip, render_scalar.P1_SQL),
    "o2_ordered_topk": (render_scalar.o2_ordered_topk, render_scalar.O2_SQL),
    "u2_set_ops": (analytics_breadth.u2_set_ops, analytics_breadth.U2_SET_SQL),
    "j_asof_join": (parity_tpch.j_asof_join, parity_tpch.J_ASOF_SQL),
    "a2_resample_right_closed": (
        agg_windows.a2_resample_right_closed, agg_windows.A2_SQL
    ),
    "a4_cumulative_fraction": (agg_windows.a4_cumulative_fraction, agg_windows.A4_SQL),
    "w3_fill_down": (agg_windows.w3_fill_down, agg_windows.W3_SQL),
    "w_sessionize_events": (
        analytics_breadth.w_sessionize_events, analytics_breadth.W_SESSION_SQL
    ),
    "q12_priority_case": (
        analytics_breadth.q12_priority_case, analytics_breadth.Q12_SQL
    ),
    "x4_json_extract": (render_scalar.x4_json_extract, render_scalar.X4_SQL),
    "k3_raincell_render": (render_scalar.k3_raincell_render, render_scalar.K3_SQL),
    "k5_chan_render": (render_scalar.k5_chan_render, render_scalar.K5_SQL),
    "k8_run_metadata": (parity_tpch.k8_run_metadata, parity_tpch.K8_SQL),
    "f9_get_or_create": (parity_tpch.f9_get_or_create, parity_tpch.F9_SQL),
    "j1_calendar_spine": (joins_parity.j1_calendar_spine, joins_parity.J1_SQL),
    "j2_dim_enrichment": (joins_parity.j2_dim_enrichment, joins_parity.J2_SQL),
    "stream_cumsum_events": (
        render_scalar.stream_cumsum_events, render_scalar.STREAM_CUMSUM_SQL
    ),
    "stream_session_events": (
        render_scalar.stream_session_events, render_scalar.STREAM_SESSION_SQL
    ),
    "dedup_exact": (corpus_core.dedup_exact_docs, corpus_core.DEDUP_EXACT_SQL),
    "sim_cosine_topk": (corpus_core.sim_cosine_topk, corpus_core.SIM_TOPK_SQL),
    "text_inverted_index": (
        growth_graph_ml.text_inverted_index, growth_graph_ml.TEXT_INVERTED_SQL
    ),
    "g_triangle_count": (
        growth_graph_ml.g_triangle_count, growth_graph_ml.G_TRIANGLE_SQL
    ),
    "sketch_countmin": (
        growth_graph_ml.sketch_countmin, growth_graph_ml.SKETCH_COUNTMIN_SQL
    ),
    "stream_join_attrib": (
        growth_graph_ml.stream_join_attrib, growth_graph_ml.STREAM_ATTRIB_SQL
    ),
    "stream_join_unmatched": (
        growth_graph_ml.stream_join_unmatched, growth_graph_ml.STREAM_UNMATCHED_SQL
    ),
    "g_clustering_coef": (
        growth_graph_ml.g_clustering_coef, growth_graph_ml.G_CLUSTERING_SQL
    ),
    "g_pagerank_weighted": (
        growth_graph_ml.g_pagerank_weighted, growth_graph_ml.G_WPR_SQL
    ),
    "ml_train_classifier": (
        growth_graph_ml.ml_train_classifier, growth_graph_ml.ML_TRAIN_SQL
    ),
    "ml_auc_exact": (growth_graph_ml.ml_auc_exact, growth_graph_ml.ML_AUC_SQL),
    "ml_calibration_bins": (
        growth_graph_ml.ml_calibration_bins, growth_graph_ml.ML_CALIBRATION_SQL
    ),
    "ml_confusion_matrix": (
        growth_graph_ml.ml_confusion_matrix, growth_graph_ml.ML_CONFUSION_SQL
    ),
    "sim_gram_matrix": (growth_graph_ml.sim_gram_matrix, growth_graph_ml.SIM_GRAM_SQL),
    "text_readability": (
        growth_graph_ml.text_readability, growth_graph_ml.TEXT_READABILITY_SQL
    ),
    "x_event_transitions": (
        growth_graph_ml.x_event_transitions, growth_graph_ml.X_TRANSITIONS_SQL
    ),
    "stream_hot_terms": (
        growth_windows.stream_hot_terms, growth_windows.STREAM_HOT_SQL
    ),
    "text_zipf_slope": (growth_windows.text_zipf_slope, growth_windows.TEXT_ZIPF_SQL),
    "sim_label_prop": (
        growth_windows.sim_label_prop, growth_windows.SIM_LABEL_PROP_SQL
    ),
    "w_autocorr": (growth_windows.w_autocorr, growth_windows.W_AUTOCORR_SQL),
    "sim_mmr_rerank": (growth_windows.sim_mmr_rerank, growth_windows.SIM_MMR_SQL),
    "w_trend_slope": (growth_windows.w_trend_slope, growth_windows.W_TREND_SQL),
    "x_global_rownum": (growth_windows.x_global_rownum, growth_windows.X_ROWNUM_SQL),
    "x_retention_cohorts": (
        growth_windows.x_retention_cohorts, growth_windows.X_RETENTION_SQL
    ),
    "j_cooccurrence_pairs": (
        growth_windows.j_cooccurrence_pairs, growth_windows.J_COOCCUR_SQL
    ),
    "sim_rank_fusion": (growth_windows.sim_rank_fusion, growth_windows.SIM_RRF_SQL),
    "text_strip_boilerplate": (
        growth_windows.text_strip_boilerplate, growth_windows.TEXT_BOILERPLATE_SQL
    ),
    "j_salted_join": (growth_windows.j_salted_join, growth_windows.J_SALTED_SQL),
    "x_zorder_index": (growth_windows.x_zorder_index, growth_windows.X_ZORDER_SQL),
    "f_robust_scale": (growth_windows.f_robust_scale, growth_windows.F_ROBUST_SQL),
    "w_peaks_over_threshold": (
        growth_windows.w_peaks_over_threshold, growth_windows.W_POT_SQL
    ),
    "w_cusum_drift": (growth_windows.w_cusum_drift, growth_windows.W_CUSUM_SQL),
    "dedup_url_canonical": (
        growth_windows.dedup_url_canonical, growth_windows.DEDUP_URL_SQL
    ),
    "j_radius_grid": (growth_windows.j_radius_grid, growth_windows.J_RADIUS_SQL),
    "sim_sq_adc": (growth_windows.sim_sq_adc, growth_windows.SIM_SQ_SQL),
    "stream_pot_events": (
        growth_windows.stream_pot_events, growth_windows.STREAM_POT_SQL
    ),
    "w_rate_of_change": (growth_windows.w_rate_of_change, growth_windows.W_RATE_SQL),
    "x_funnel_steps": (growth_windows.x_funnel_steps, growth_windows.X_FUNNEL_SQL),
    "f_zscore_norm": (growth_windows.f_zscore_norm, growth_windows.F_ZSCORE_SQL),
    "dedup_suffix_prefix": (
        growth_windows.dedup_suffix_prefix, growth_windows.DEDUP_SUFFIX_SQL
    ),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}
