"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The actual implementations live in cioos_siooc_data_transform_spark/plans/;
this module is a thin adapter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    from cioos_siooc_data_transform_spark.plans import QUERIES

    return QUERIES["q1_pricing_summary"](spark, DEFAULT_SF_DIR)


# Names the driver already verified (CORRECTNESS_r01-r04). The driver
# samples the FIRST 50 names in dict order, so never-checked queries are
# listed first, then previously-green ones as regression coverage.
#
# Rounds 5-14 each registered one slate (plans/staged_r5..r13.py) of at
# most 50 fresh names — one full driver sample — and moved the previous
# round's green names here in the same change. The per-round blocks
# below record which names joined when.
_CHECKED = frozenset(
    {
        # round 1
        # NB: q1_pricing_summary rotated out in round 12, re-earned its
        # row (CORRECTNESS_r12), and rejoined via the round-12 block.
        # NB: geo_containment_join, ranking_window_bodc, tz_fixed_offset
        # and dedup_exact are deliberately absent — ROTATED OUT in round
        # 13 (oldest load-bearing round-1 names; see ROTATION below).
        # They rejoin once their fresh CORRECTNESS_r13 rows land.
        # NB: filter_projection, anti_join_orphans, dedup_minhash_lsh and
        # dedup_embedding_cosine are deliberately absent — ROTATED OUT in
        # round 14 (dedup_embedding_cosine is moved-code: the round-13
        # hyperplane_lsh_buckets restructure postdates its green row; the
        # others are the oldest load-bearing round-1 names per the queue).
        "first_match_min",
        "case_when_routing", "timestamp_range_filter", "null_pad_masking",
        "coalesce_event_id",
        "semi_join_present", "broadcast_lookup_join", "positional_schema_join",
        "minmax_per_group", "count_validation", "time_increment_inference",
        "sequence_timeseries", "sort_limit_topk",
        "except_missing_keys", "intersect_common_keys", "dms_to_decimal",
        "time_increment_decode", "epoch_seconds",
        "id_formatting", "substring_extract", "json_serialize",
        "unit_canonicalization", "basename_key_extract", "string_functions",
        "datetime_functions",
        # NB: dedup_ngram_jaccard rotated out MID-round-14 (moved-code:
        # the shared _distinct_shingles reuse anchor changed from a
        # global distinct to repartition(doc_id) — same rows, new plan —
        # in the same change as this NB; all 24 checked consumers of the
        # helper rotate with it, marked "shingle-anchor" below).
        "dedup_simhash",
        "dedup_simhash_pairs", "dedup_edit_distance",
        # NB: similarity_topk_bruteforce and similarity_ivf_topk rotated
        # out in round 12, re-earned their rows on the norm-precompute
        # code (CORRECTNESS_r12), and rejoined via the round-12 block.
        "text_langid",
        "text_quality_score", "text_token_count", "text_fingerprint",
        "multimodal_binary_meta", "multimodal_decode_features",
        "text_hash_embedding", "session_windows",
        # tumbling_window_hourly deliberately absent: its sum switched to
        # integer-quantized units in round 4, so it re-samples as fresh
        "daily_top_event",
        # round 2
        # NB: dedup_pipeline_pairs, dedup_pipeline_pairs_xxhash and
        # dedup_components rotated out MID-round-14 (shingle-anchor).
        "decontaminate_benchmark_overlap",
        "dedup_canonical_keeper", "dedup_ngram_jaccard_hashed",
        "embedding_quantize_int8", "embedding_normalize",
        "text_repetition_ratio", "multimodal_frame_sample",
        "text_gopher_filter", "cap_per_source", "mixture_temperature_weights",
        "lm_unigram_logprob", "text_pii_scrub", "vocab_top_tokens",
        "vocab_bpe_pair_counts", "running_user_totals_batch", "funnel_stages",
        # NB: ios_parse_measurements rotated out in round 14 (oldest
        # load-bearing round-1/2 ingest name per the committed queue).
        "gap_fill_locf", "sessionize_gap",
        "ios_parse_catalog", "ios_bodc_codes", "ios_observation_times",
        "ios_mooring_inferred_dt", "ios_mooring_timeseries", "gsw_sound_speed",
        "gsw_practical_salinity",
        # NB: gsw_potential_temperature and robust_zscore_outliers are
        # deliberately NOT listed: both changed semantics in round 4
        # (Bryden bars fix; rounded-z boundary filter) after their green
        # rows, so they must sample as FRESH until the new definitions
        # have a driver-green row.
        "gsw_depth_from_pressure", "gsw_nsquared_profile", "gsw_profile_interp",
        "gsw_pchip_interp", "gsw_coriolis_f", "gsw_distance", "gsw_dyn_height",
        "gsw_turner_rsubrho", "gsw_geostrophic_velocity", "gsw_ipv_fn2_ratio",
        "q3_shipping_priority", "q5_supplier_volume", "rollup_returns",
        "cube_events", "grouping_sets_orders", "distinct_aggregation",
        "pivot_status_revenue", "correlated_above_avg", "full_outer_reconcile",
        "exact_percentiles",
        # round 3 (all 50 green in CORRECTNESS_r03.json)
        "anomaly_zscore", "array_functions", "asof_join_events",
        "bool_bitwise_aggregates", "cohort_retention",
        # NB: dedup_cross_snapshot rotated out MID-round-14
        # (shingle-anchor).
        "deterministic_sample", "gsw_alpha_beta", "gsw_freezing_point",
        "gsw_rho_sigma0", "gsw_sa_from_sp", "incremental_agg_merge",
        "interval_bin_join", "ios_fortran_format_parse",
        "json_malformed_tolerance", "json_props_extract", "key_skew_profile",
        # NB: market_basket_pairs rotated out MID-round-14 (moved-code:
        # its pair-support base moved to the shared collect_set
        # pair-generation operator, operators/graphs.py::
        # copurchase_pair_support, in the same change as this NB).
        "linear_trend_per_type", "map_roundtrip",
        "merge_upsert_latest", "multimodal_frame_sample_fps",
        "ntile_quartile_buckets", "null_profile", "null_safe_join",
        "percent_rank_cume_dist", "q18_large_orders", "q6_forecast_revenue",
        "referential_audit", "rolling_avg_events",
        "salted_skew_join", "sketch_distinct_users", "sql_api_surface",
        "stats_moments", "stratified_sample", "text_tfidf",
        "text_token_entropy", "topk_per_group", "trimmed_mean_grouped_udf",
        "union_distinct_sources", "union_schema_evolution", "value_histogram",
        "window_range_frame", "window_rank_family",
        # round 4 (all 50 green in CORRECTNESS_r04.json)
        "chunk_sliding_windows", "cluster_zorder_key", "cumulative_distinct_users",
        # NB: dedup_containment_pairs and dedup_minhash_estimate_accuracy
        # rotated out MID-round-14 (shingle-anchor).
        "dedup_bag_of_words", "dedup_exact_bucketed",
        # NB: dedup_semantic_clusters rotated out in round 12, re-earned
        # its row (CORRECTNESS_r12), and rejoined via the round-12 block.
        "dedup_prefix_cluster",
        # NB: embedding_random_projection rotated out in round 14
        # (moved-code: the round-13 JL matrix-literal rewrite postdates
        # its green row).
        # NB: graph_triangle_count rotated out MID-round-14 (moved-code:
        # edge derivation moved to copurchase_pair_support).
        "dedup_substring_overlap", "drift_ks_statistic", "embedding_centroid_distance",
        "gsw_ct_from_t",
        "gsw_potential_temperature", "gsw_rho_ct_native", "lateral_top_orders",
        "markov_transitions", "mode_per_group", "pack_chunks_fixed",
        "pack_greedy_nosplit", "pack_training_shards", "pareto_revenue_share",
        "q10_returned_items", "q12_late_shipments", "q13_customer_distribution",
        "q14_promo_revenue", "q15_top_supplier", "q17_small_quantity",
        "q19_discounted_revenue", "q21_waiting_supplier", "q22_dormant_customers",
        "q4_priority_late", "q7_volume_shipping", "q8_market_share",
        "rfm_segmentation", "robust_zscore_outliers", "scd2_history",
        # NB: similarity_lsh_topk rotated out in round 12, re-earned its
        # row (CORRECTNESS_r12), and rejoined via the round-12 block.
        "similarity_recall_at_k", "sketch_quantiles",
        "text_bigram_repetition", "time_weighted_average", "train_val_test_split",
        "tumbling_window_hourly", "two_phase_salted_agg", "udtf_tokenize_offsets",
        "unpivot_metrics", "window_lag_lead_delta",
        # round 5 (all 50 green in CORRECTNESS_r05.json)
        "ab_test_lift", "asof_nearest_tolerance", "bucketed_colocated_join", "cusum_range_drift",
        # NB: dedup_fingerprint_winnowing rotated out in round 14
        # (moved-code: the round-13 distinct -> array_distinct rewrite
        # postdates its green row).
        # NB: dedup_bag_jaccard_pairs, dedup_bbit_minhash,
        # dedup_component_size_histogram and dedup_layer_funnel rotated
        # out MID-round-14 (shingle-anchor).
        "dedup_exact_normalized",
        "dedup_source_survivorship", "dedup_winnowing_pairs",
        "embedding_binary_signature", "embedding_knn_label_accuracy", "embedding_mahalanobis_diag", "events_dow_seasonality",
        # NB: graph_pagerank_iterations is deliberately absent — ROTATED
        # OUT in round 13: its lineage idiom changed to the eager
        # und-checkpoint in round 12 (plans/staged_r5.py), AFTER its last
        # green row, so per the moved-code-rotates-first rule it leads
        # the round-13 rotation (see ROTATION below).
        "except_intersect_all", "funnel_conversion_rates", "grouping_id_flags",
        # NB: gsw_dynamic_enthalpy and gsw_enthalpy are deliberately NOT
        # listed: their staged-Horner REPLACEMENT bodies went live in
        # round 8 (the plans/staged_r9.py twins), so they re-sampled as
        # FRESH in round 9 until the new expression trees earned driver
        # rows (they rejoin in the round-9 block below).
        "gsw_adiabatic_lapse_rate", "gsw_kappa",
        "gsw_potential_density_theta", "gsw_rho_at_pressure", "gsw_sigma1_sigma2", "gsw_sound_speed_ct_native",
        "interval_sweepline_backlog", "ios_profile_sound_speed", "langid_confusion_matrix", "late_data_accounting",
        "left_join_null_skew_isolated", "lm_bigram_logprob", "ngram_novelty_score", "orders_gini_concentration",
        "quality_classifier_logreg", "rate_limit_token_bucket", "scd2_point_in_time_lookup", "session_duration_stats",
        "sketch_frequent_items", "snapshot_diff_cdc", "text_heaps_law_fit", "text_simpson_diversity",
        "text_stopword_density", "tokenizer_fertility", "vocab_zipf_slope", "weighted_sample_ares",
        "window_time_interval_frame", "window_value_functions",
        # round 6 (all 50 green in CORRECTNESS_r06.json)
        "q2_min_cost_supplier", "q9_product_type_profit", "q11_important_stock",
        "q16_parts_supplier_count", "q20_potential_promotion", "gsw_theta_rk4",
        "gsw_ct_from_t_rk4", "gsw_sigma3_sigma4", "gsw_pt_from_ct",
        "orders_gap_islands", "events_autocorr_lag1", "orders_yoy_growth",
        "events_value_entropy", "customer_first_last_delta", "events_top2_share",
        "nation_revenue_share", "customer_recency_bands",
        "text_duplicate_ngram_fraction", "vocab_js_divergence",
        # NB: knn_graph_degree_stats rotated out in round 14 (moved-code:
        # shares the restructured hyperplane_lsh_buckets operator).
        "embedding_energy_outliers",
        "dedup_window_lines", "contamination_split_audit",
        # NB: minhash_band_tuning_audit and dedup_lsh_recall_audit
        # rotated out MID-round-14 (shingle-anchor).
        "text_char_class_profile",
        "sketch_hll_merge_daily", "sketch_hll_intersection",
        "ios_profile_sigma_theta", "asof_join_forward", "funnel_time_to_convert",
        "lineitem_corr_matrix", "lineitem_hist2d", "gsw_pressure_from_depth",
        # NB: similarity_pq_adc_topk rotated out in round 14 (moved-code:
        # the round-13 memoized _codebook_lit rewrite postdates its row).
        "text_hapax_ratio", "events_interarrival_stats",
        "doc_length_deciles", "orders_abc_classification", "events_cdf_at_values",
        "basket_rule_metrics", "events_ohlc_downsample",
        "doc_diversity_length_corr", "supplier_nation_herfindahl",
        "events_missing_hours_audit", "embedding_dim_variance",
        "doc_ngram_coverage_curve", "text_word_length_profile",
        "lineitem_returns_rate_by_month", "doc_source_lang_chi2",
        # round 7 (all 50 green in CORRECTNESS_r07.json)
        "customer_gini_by_nation", "customer_survival_curve",
        # NB: dedup_shingle_df_profile rotated out MID-round-14
        # (shingle-anchor).
        "customer_type_affinity",
        "doc_dup_rate_by_length", "doc_word_pmi_pairs",
        "embedding_cell_label_purity", "embedding_fisher_score",
        "embedding_int8_error_audit", "embedding_pair_distance_histogram",
        "events_cumulative_reset", "events_dow_hour_heatmap",
        "events_heavy_hitters", "events_lagged_crosscorr",
        "events_markov_entropy_rate", "events_markov_stationary",
        "events_minute_burst_zscore", "events_mood_median_test",
        "events_peak_to_mean", "events_session_cooccurrence",
        "events_type_audience_jaccard", "events_user_type_diversity",
        "events_value_ewma", "events_winsorized_mean",
        "funnel_window_constrained", "graph_degree_assortativity",
        "gsw_gravity", "gsw_rt_from_sp", "gsw_specvol_anom",
        "lineitem_benford_audit", "lineitem_discount_elasticity",
        "lineitem_price_variance_decomposition", "lineitem_return_by_discount",
        "orders_lorenz_curve", "orders_null_aware_anti",
        "orders_percentile_bands_exact", "orders_rolling_12m_revenue",
        "orders_seasonal_index", "orders_segment_growth_ratio",
        "orders_ship_lag_histogram", "orders_status_priority_cramers_v",
        "pack_fill_efficiency_audit", "part_price_size_skyline",
        "part_size_price_spearman", "part_type_price_anova",
        "segment_nation_dissimilarity", "supplier_part_bipartite_density",
        "supplier_share_trend", "table_pk_uniqueness_audit",
        "text_term_burstiness",
        # round 8 (all 50 green in CORRECTNESS_r08.json)
        "customer_repeat_rate", "embedding_covariance_top_pair",
        "events_acf_profile", "events_hourly_seasonality_strength",
        "events_peak_hour_stability", "events_poisson_rate_ci",
        "events_runlength_profile", "events_user_entropy_vs_volume",
        "graph_clustering_coefficient", "graph_common_neighbors_linkpred",
        "gsw_cabbeling", "gsw_conversion_pairs",
        "gsw_cp_ice", "gsw_ct_freezing",
        "gsw_ct_from_enthalpy", "gsw_enthalpy_diff",
        "gsw_enthalpy_ice", "gsw_entropy_from_t",
        "gsw_entropy_ice", "gsw_internal_energy",
        "gsw_latentheat_melting", "gsw_rho_ice",
        "gsw_sa_from_rho", "gsw_spiciness0",
        "gsw_spiciness_deep", "gsw_t_from_ct",
        "gsw_thermobaric", "lang_js_divergence_matrix",
        "latentheat_evap_hs84", "lineitem_partial_corr_price_qty",
        "lineitem_tax_discount_grid", "nation_trade_balance",
        "orders_basket_size_distribution", "orders_cohort_ltv_curve",
        "orders_interpurchase_percentiles", "orders_priority_mix_drift",
        "orders_weekend_share", "pareto_share_two_pass",
        "part_brand_price_dispersion", "q11_partsupp_important_stock",
        "q16_partsupp_supplier_count", "q20_partsupp_promotion",
        "q2_partsupp_min_cost", "q9_partsupp_profit",
        "similarity_cosine_histogram", "similarity_ivf_pq_topk",
        "sketch_countmin_heavy_hitters", "stratified_oversample_balance",
        "supplier_acctbal_tukey_outliers", "text_yule_k",
        # round 9 (all 50 green in CORRECTNESS_r09.json, incl. the two
        # staged-Horner REPLACEMENT re-samples)
        "dedup_vocab_impact", "doc_quality_cohen_kappa",
        "embedding_label_centroid_drift", "events_block_maxima_gumbel",
        "events_changepoint_location", "events_circular_mean_hour",
        "events_dft_power_daily_weekly", "events_mean_imputation_audit",
        "events_out_of_order_profile", "events_pareto_tail_index",
        "events_record_breaks", "events_weekday_hour_twoway_anova",
        "graph_degree_powerlaw_fit", "graph_two_hop_reach_profile",
        "gsw_alpha_beta_75term", "gsw_chem_potential_water_ice",
        "gsw_ct_maxdensity", "gsw_dynamic_enthalpy",
        "gsw_enthalpy", "gsw_enthalpy_first_derivatives",
        "gsw_helmholtz_energy_ice", "gsw_internal_energy_ice",
        "gsw_kappa_const_t_ice", "gsw_mixed_layer_pressure",
        "gsw_pot_enthalpy_from_pt", "gsw_rho_first_derivatives",
        "gsw_sound_speed_ice", "gsw_t_freezing_derivatives",
        "interval_union_coverage", "lineitem_kendall_tau_contingency",
        "lineitem_mannwhitney_returnflag", "lineitem_price_index_laspeyres",
        "lineitem_simpson_paradox_audit", "lm_trigram_backoff_logprob",
        "multimodal_chunk_manifest", "orders_backlog_aging",
        "orders_first_vs_repeat_value", "orders_lognormal_fit_audit",
        "orders_seasonal_trend_decomposition", "part_abc_xyz_matrix",
        "part_brand_price_theil_index", "part_name_token_topk",
        "quality_filter_funnel", "sessionize_gap_sensitivity",
        "similarity_int8_recall_audit", "similarity_ivf_nprobe_curve",
        "sketch_kmv_distinct", "supplier_balance_quantile_normalize",
        "temporal_split_leakage_audit", "user_growth_accounting",
        # round 10 (all 50 green in CORRECTNESS_r10.json)
        "customer_acctbal_levene_test", "customer_rfm_segments",
        "customer_segment_migration", "dedup_blocking_quality_audit",
        # NB: dedup_jaccard_threshold_sweep and dedup_sorted_neighborhood
        # rotated out MID-round-14 (shingle-anchor).
        "doc_context_overflow_rate", "embedding_anisotropy_audit",
        "embedding_knn_hubness", "embedding_label_margin",
        "embedding_pca_power_iteration", "embedding_triplet_margin_violations",
        "events_daily_mad_anomalies", "events_dispersion_index",
        "events_ewma_daily", "events_interarrival_burstiness",
        "events_kruskal_wallis_value", "events_ljung_box",
        "events_pot_gpd_fit", "events_runs_test",
        "graph_adamic_adar_linkpred", "graph_degree_gini",
        "graph_kcore3_peeling", "gsw_adiabatic_lapse_rate_ice",
        "gsw_o2sol_sp_pt", "gsw_pressure_freezing_ct",
        "gsw_pt0_from_t_ice", "gsw_rho_second_derivatives",
        "gsw_sa_freezing_from_ct", "gsw_salinity_scale_conversions",
        "gsw_specvol_first_derivatives", "gsw_specvol_ice",
        "gsw_temperature_scale_conversions", "lineitem_cramers_v",
        "lineitem_spearman_discount_qty", "lineitem_welch_ttest",
        "orders_association_lift", "orders_bollinger_bands",
        "orders_diff_in_diff_holiday", "orders_kaplan_meier",
        "orders_seasonal_naive_backtest", "sample_hash_uniformity_chisq",
        "sample_stratified_split_audit", "sketch_bloom_fpr_audit",
        "source_vocab_jaccard", "text_bm25_topk",
        "text_readability_flesch", "text_sentence_length_profile",
        "text_source_unigram_jsd", "tpch_referential_integrity_profile",
        # round 11 (all 50 green in CORRECTNESS_r11.json)
        "customer_acctbal_bowley_skew", "customer_segment_dissimilarity_index",
        # NB: dedup_component_source_purity, dedup_minhash_hashes_sweep
        # and dedup_transitivity_audit rotated out MID-round-14
        # (shingle-anchor).
        "dedup_simhash_bit_balance",
        "docs_lang_source_mutual_info", "embedding_davies_bouldin",
        "embedding_intrinsic_dim_two_nn", "embedding_prefix_dim_recall",
        "events_allan_variance", "events_attribution_window_join",
        "events_changepoint_binseg2", "events_conversion_lag",
        "events_extremal_index_intervals", "events_gpd_return_levels",
        "events_ks_two_sample", "events_time_to_conversion",
        "events_user_count_nbd_fit", "graph_brand_modularity",
        "graph_rich_club_coefficient", "gsw_chem_potential_t_derivative",
        "gsw_cp_t_exact", "gsw_entropy_from_ct",
        "gsw_ice_expansion_coefficients", "gsw_pot_enthalpy_from_t_ice",
        "gsw_pt_from_entropy", "gsw_sa_from_sp_baltic",
        "gsw_spiciness1_2", "lineitem_breusch_pagan_test",
        "lineitem_chow_test", "lineitem_grubbs_outlier_test",
        "lineitem_jarque_bera", "lineitem_lorenz_asymmetry",
        "lineitem_median_polish", "lineitem_return_rate_p_chart",
        "lineitem_weighted_price_quantiles", "orders_annual_harmonic_fit",
        "orders_fixed_effects_trend", "orders_littles_law_audit",
        "orders_max_drawdown", "orders_rolling_corr_12m",
        "orders_tail_model_comparison", "pack_chunk_size_sweep",
        "partsupp_price_spread_audit", "similarity_pq_codebook_utilization",
        "sketch_hll_precision_sweep", "text_burrows_delta",
        "text_chars_per_token_by_lang", "text_langid_confusion_matrix",
        # round 12 (all 50 green in CORRECTNESS_r12.json: the 45
        # activated staged_r12 names + the 5 round-12 rotation re-earns
        # — q1_pricing_summary, dedup_semantic_clusters,
        # similarity_lsh_topk, similarity_topk_bruteforce,
        # similarity_ivf_topk — which hereby rejoin)
        # NB: dedup_semantic_clusters and similarity_lsh_topk rotated out
        # AGAIN in round 14 (moved-code: the round-13 semantic_dedup
        # overcap modes + hyperplane_lsh_buckets restructure postdate
        # their round-12 rows; they lead the committed round-14 queue).
        "customer_energy_distance_segments", "customer_order_count_ztp_fit",
        "customer_spend_intraclass_corr", "decontam_ngram_size_sweep",
        # NB: dedup_bucket_cap_sweep and dedup_lsh_band_tradeoff rotated
        # out MID-round-14 (shingle-anchor).
        "dedup_winnowing_window_sweep",
        "embedding_centroid_classifier_confusion",
        "events_dayk_retention_curve", "events_spectral_flatness",
        "events_type_hour_stdres_outliers", "graph_price_assortativity",
        "graph_support_threshold_sweep", "graph_triangle_config_null",
        "gsw_ct_first_derivatives", "gsw_ct_second_derivatives",
        "gsw_enthalpy_second_derivatives", "gsw_entropy_first_derivatives",
        "gsw_entropy_second_derivatives", "gsw_pt_first_derivatives",
        "gsw_rho_first_derivatives_wrt_enthalpy", "gsw_sa_freezing_from_t",
        "gsw_specvol_second_derivatives", "gsw_t_from_pt0_ice",
        "ios_channel_unit_profile", "multimodal_fps_sweep",
        "multimodal_frame_hash_dedup", "nation_revenue_shift_share",
        "orders_gap_exponentiality_ks", "orders_new_customer_share_trend",
        "orders_priority_stochastic_dominance",
        "orders_quantile_treatment_effect", "orders_theil_sen_trend",
        "orders_wilcoxon_signed_rank", "part_demand_sbc_classification",
        "part_price_ending_digits", "q1_pricing_summary",
        "sample_pps_horvitz_thompson", "similarity_adc_rank_correlation",
        "similarity_ivf_cell_balance", "similarity_ivf_topk",
        "similarity_topk_bruteforce",
        "supplier_type_concentration_cr4", "text_langid_calibration_curve",
        "text_ngram_entropy_rate_curve", "text_oov_vocab_curve",
        "text_sttr_by_source", "tpch_fd_violation_audit",
        # round 13 (all 50 green in CORRECTNESS_r13.json: 40 staged_r13
        # names + the 5 staged_r12 names held over from round 12 + the
        # 5 round-13 rotation re-earns —
        # graph_pagerank_iterations, geo_containment_join,
        # ranking_window_bodc, tz_fixed_offset, dedup_exact — which
        # hereby rejoin)
        "customer_churn_window_sweep", "customer_discounted_ltv",
        "customer_purchase_clumpiness", "customer_spend_atkinson_index",
        # NB: dedup_lsh_precision_audit, dedup_sample_pair_bias and
        # text_dup_quality_association rotated out MID-round-14
        # (shingle-anchor).
        "dedup_exact", "dedup_semantic_tau_sweep",
        "dedup_shingle_size_sweep", "embedding_cosine_label_auc",
        "embedding_knn_mutuality", "events_friedman_dow_test",
        "events_page_hinkley_drift", "geo_containment_join",
        "graph_hub_removal_robustness", "graph_pagerank_iterations",
        "gsw_alpha_beta_t_exact", "gsw_c_from_sp",
        "gsw_chem_potential_dilution_t_exact", "gsw_ct_from_rho",
        "gsw_enthalpy_t_exact", "gsw_hill_ratio_at_sp2",
        "gsw_kappa_t_exact", "gsw_pot_enthalpy_ice_freezing",
        "gsw_pot_rho_t_exact", "gsw_sound_speed_t_exact",
        "gsw_sp_from_c", "gsw_specvol_rho_t_exact",
        "ios_header_completeness_profile", "ios_malformed_file_audit",
        "nation_rank_stability_tau", "orders_backtest_residual_ljungbox",
        "orders_gap_weibull_shape", "orders_seasonal_amplitude_trend",
        "orders_seasonal_mann_kendall", "orders_value_psi_drift",
        "pack_truncation_loss_audit", "part_margin_audit",
        "part_unit_price_dispersion", "partsupp_stock_cover_audit",
        "ranking_window_bodc", "sample_neyman_allocation",
        "similarity_srp_bit_independence", "sketch_cm_width_sweep",
        "supplier_leadtime_consistency", "text_char_trigram_lang_affinity",
        "text_langid_stopword_budget",
        "text_multilingual_doc_audit", "tz_fixed_offset",
    }
)

# ROTATION POLICY (adopted round 11, per the round-10 verdict; EXECUTED
# from round 12): the driver's fresh-first sample never re-checks an old
# green name on its own, so each activation round registers at most 45
# new staged names and REMOVES ~5 green names from _CHECKED so the
# driver re-earns driver-grade rows on code that has moved since the row
# was earned. Rotated names rejoin _CHECKED once their fresh CORRECTNESS
# rows land.
#
# PRIORITY RULE (codified round 13 per the round-12 verdict): ANY live
# query whose implementing operator code changes in round N goes to the
# FRONT of round N+1's rotation list — a green row must never silently
# describe code older than the row. After moved-code names, rotate the
# oldest load-bearing greens. Round 12 applied this ad hoc (the cosine
# norm-precompute family); round 13 applies it as policy
# (graph_pagerank_iterations).
#
# Round-12 rotation (EXECUTED; all 5 re-earned green in
# CORRECTNESS_r12 and rejoined via the round-12 block above):
#   dedup_semantic_clusters, similarity_lsh_topk,
#   similarity_topk_bruteforce, similarity_ivf_topk (cosine-touched),
#   q1_pricing_summary (oldest load-bearing; also re-witnesses entry()).
#
# Round-13 rotation (EXECUTED in this change):
#   graph_pagerank_iterations (moved-code: eager und-checkpoint landed
#     in round 12, plans/staged_r5.py — see SCALE.md round 12),
#   geo_containment_join, ranking_window_bodc, tz_fixed_offset,
#   dedup_exact (oldest load-bearing round-1 names).
# Budget: 5 staged_r12 names held over from round 12 + 40 staged_r13
# names + these 5 = exactly the driver's 50-fresh-name sample; the
# remaining 10 staged_r13 names (the GSW freezing-poly + Saunders +
# wave-M family) were held over to round 14.
#
# Round-14 rotation (EXECUTED in this change, per the queue committed
# in round 13): the 50 round-13 greens joined _CHECKED above; the 10
# held-over staged_r13 names joined the registry (630 -> 640); and
# these 11 names rotated OUT so the driver re-earns rows on moved code —
#   dedup_semantic_clusters, similarity_lsh_topk, dedup_embedding_cosine,
#   knn_graph_degree_stats, dedup_fingerprint_winnowing,
#   embedding_random_projection, similarity_pq_adc_topk (round-13
#   optimization-moved), then dedup_minhash_lsh, ios_parse_measurements,
#   filter_projection, anti_join_orphans (oldest round-1 greens).
# Fresh-name budget: 10 activations + 11 rotations = 21 fresh; the
# driver's remaining 29 sample slots fall to the earliest _CHECKED names
# in registry order as regression coverage. Names whose operator code
# moves during round 14 itself are appended to the fresh set in the same
# change as the move (see the round-14 NB notes above).
#
# The queue as committed in round 13 (retained for audit):
#   dedup_semantic_clusters FIRST — round-13 work restructured
#     operators/dedup.py::semantic_dedup (overcap="medoid"/"refine"
#     modes + the shared candidate-union path; the query's own drop
#     branch is logically unchanged, but the row must be re-earned on
#     the moved file), then the round-13 OPTIMIZATION-moved names
#     whose green rows predate the optimization (all re-verified
#     result-identical against their oracles this round, but the
#     policy wants driver-grade rows on moved code):
#     similarity_lsh_topk (hyperplane_lsh_buckets restructure),
#     dedup_embedding_cosine + knn_graph_degree_stats (same operator),
#     dedup_fingerprint_winnowing (distinct -> array_distinct),
#     embedding_random_projection (JL matrix literal),
#     similarity_pq_adc_topk (memoized _codebook_lit, shared PQ
#     family). graph_pagerank_iterations and dedup_semantic_tau_sweep
#     also moved in round 13 but sample FRESH in the round-13 driver
#     run itself (rotation / staged_r13 activation), so their rows
#     land on the new code already. Then the oldest load-bearing
#     round-1 names (dedup_minhash_lsh, ios_parse_measurements,
#     filter_projection, anti_join_orphans) as budget allows.


def _priority_order(names) -> list[str]:
    names = list(names)
    fresh = [n for n in names if n not in _CHECKED]
    seen = [n for n in names if n in _CHECKED]
    return fresh + seen


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from cioos_siooc_data_transform_spark.plans import all_queries

    qs = all_queries()
    return {n: qs[n] for n in _priority_order(qs)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each query (same column names)."""
    from cioos_siooc_data_transform_spark.plans import all_oracles

    os_ = all_oracles()
    return {n: os_[n] for n in _priority_order(os_)}
