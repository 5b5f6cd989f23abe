"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"q": sec, ...}, "sf": <sf>}

Each query is forced to full materialization through the noop sink
(df.write.format("noop")) — no driver collect, no skipped operators
(count() would let Catalyst prune unused window/agg columns).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time


HEADLINE = [
    # reference-parity core
    "top_products",
    "agg_pricing_summary",
    "join_3way_bridge",
    "join_4way_dims",
    "union_all_trailing",
    "scalar_datediff",
    # unlocked analytics (ntile_rfm intentionally absent: its
    # reference-pinned global NTILE sort is a single-partition plan;
    # rfm_quantile_scores below is the scalable twin)
    "topn_per_group",
    "percentile_exact",
    "window_running",
    "sessionize",
    "window_tumbling",
    # LLM-data-pipeline extensions (capped LSH + verified pairs are the
    # production near-dup shapes; the all-pairs dedup_ngram_jaccard stays
    # un-benched as an oracle-parity baseline)
    "dedup_exact",
    "dedup_minhash_lsh_pairs_capped",
    "dedup_lsh_verified_pairs",
    "text_quality",
    "ann_cosine_topk",
    # scale-path operators
    "ann_ivf_topk",
    "salted_agg",
    "skew_join_salted",
    "repetition_quality",
    "pii_redact",
    "grouping_sets_agg",
    "stream_static_join_batch_twin",
    "decontaminate_ngrams",
    "interval_join_events",
    "gap_fill_daily",
    # training-data pipeline (round-1 additions)
    "rfm_quantile_scores",
    "sequence_packing",
    "data_mix_allocation",
    "mix_sampled_corpus",
    "bm25_search",
    "unigram_surprisal",
    "chunk_overlapping",
    "kmeans_embeddings",
    "bigram_surprisal",
    "anomaly_zscore",
    "dedup_kept_corpus",
    "length_band_filter",
    "stopword_pruned_corpus",
    "collocation_pmi",
    "min_cost_per_part",
    "pending_returns_q21",
    "lapsed_customers_q22",
    "recursive_month_spine",
    "rolling_median",
    "window_distinct_count",
    "variant_extract",
    "hll_sketch_rollup",
    # round-2 additions: shuffle-free fingerprints, oracle-checked
    # multimodal pipelines, ANN bucketing, streaming twins
    "dedup_minhash_signatures",
    "dedup_simhash",
    "multimodal_decode_pipeline",
    "multimodal_frame_sample",
    "multimodal_audio_segments",
    "ann_lsh_buckets",
    "knn_classify",
    "vector_quantize_int8",
    "token_topk",
    "tfidf_top_terms",
    "text_langid",
    "session_window_native",
    "time_rollup_multigrain",
    "token_count_bpe",
    "curriculum_stages",
    "clean_dataset_split",
    "dedup_source_matrix",
    "pagerank_bipartite",
    "pagerank_from_index",
    "ewma_user_value",
    "ntile_rfm_scalable",
    "dedup_embedding_lsh_pairs",
    "mmr_diverse_topk",
    # round-3 additions: curation/audit/insight/sketch surface
    "line_dedup_corpus",
    "line_dedup_from_index",
    "gopher_rules",
    "dq_audit",
    "path_transitions",
    "ab_test_ztest",
    "seasonal_naive_mape",
    "triangle_count",
    "countmin_heavy_hitters",
    "ann_pq_topk",
    "ann_pq_from_index",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q19",
    "tpch_q20",
    "tpch_q18",
    "contamination_fraction",
    "ngram_novelty_rate",
    "trend_forecast_linreg",
    "join_cardinality_probe",
    "snapshot_diff",
    "user_erasure_audit",
    "scd2_pit_lookup",
    "time_to_convert",
    "window_rolling_corr",
    "crosslingual_pairs",
    "mad_outliers",
    "pretrain_corpus_pipeline",
    "geo_grid_join",
    # round-4 additions
    "weighted_sample_topk",
    "table_profile",
    "basket_pairs",
    "skyline_pareto",
    "chi_square_independence",
    "ann_pq_append_topk",
    "time_weighted_avg",
    "attribution_last_touch",
    "survival_km",
    "freshness_audit",
    "sequence_gaps",
    "benford_audit",
    "groupwise_linreg",
    "revenue_changepoints",
    "holt_level_trend",
    "json_props_profile",
    "table_checksums",
    "media_chunk_dedup",
    "gini_concentration",
    "psi_drift",
    "ks_two_sample",
    "mannwhitney_utest",
    "correlation_matrix",
    "seasonal_anomaly_dow",
    "entropy_by_source",
    "hhi_concentration",
    "mutual_information",
    "autocorrelation_lags",
    "vocab_growth_curve",
    "source_token_jaccard",
    "power_law_alpha",
    "quantile_drift",
    "hourly_seasonality_profile",
    "degree_distribution",
    "langid_confusion",
    "lorenz_curve",
    "k_anonymity_audit",
    "dau_wau_stickiness",
    "embedding_norm_audit",
    "interevent_gap_histogram",
    "growth_accounting_daily",
    "reorder_interval_stats",
    "dup_rate_by_source",
    "supplier_share_shift",
    "shipping_delay_monthly",
    "partition_skew_advisor",
    "watermark_lateness_advisor",
    "open_order_aging",
    "spend_tier_migration",
    "discount_by_quantity_band",
    "char_class_profile",
    "event_type_affinity",
    "event_value_deciles_by_type",
    "revenue_bridge_monthly",
    "priority_sla_rate",
    "session_funnel",
    "dedup_containment_pairs",
    "priority_mix_shift_monthly",
    "weighted_median_price",
    "tokenizer_fertility",
    "context_window_fit",
    "pii_rate_by_source",
    "dataset_card_summary",
    "split_leakage_audit",
    "class_balance_weights",
    "embedding_centroid_drift",
    "lsh_tuning_curve",
    "session_timeout_sensitivity",
    "ab_srm_check",
    "order_fill_rate",
    "perplexity_by_source",
    "kl_divergence_by_source",
    "dup_cluster_histogram",
    "near_dup_rate_by_source",
    "lexical_diversity_by_source",
    "bigram_cond_entropy_by_lang",
    "doc_length_deciles_by_source",
    "cusum_level_shift",
    "stl_decompose_weekly",
    "supplier_overlap_jaccard",
    "quality_calibration_bands",
    "mixed_lang_purity_by_source",
    "template_prefix_clusters",
    "burstiness_by_type",
    "cohort_ltv_curve",
    "supplier_return_z",
    "rising_terms",
    "embedding_outlier_mahalanobis",
    "lsh_recall_by_band",
    "ab_power_sample_size",
    "l_diversity_audit",
    "ann_ivf_recall_eval",
    "minhash_estimate_calibration",
    "attribution_u_shaped",
    "event_trigram_paths",
    "order_backlog_monthly",
    "weighted_deciles_price",
    "stl_residual_outliers",
    "quantile_norm_map",
    "label_centroid_distances",
    "range_split_points",
    "dow_hour_value_heatmap",
    "personalized_pagerank_seeded",
    "ivm_join_delta",
    "media_sequence_fingerprint",
    "value_skewness_by_nation",
    "hybrid_skew_join",
    "heldout_perplexity",
    "vocab_coverage_topk",
    "new_returning_revenue_monthly",
    "abc_classification_parts",
    "embedding_dim_stats",
    "pairwise_distance_histogram",
    "readability_scores_by_source",
    "markov_stationary_profile",
    "attribution_time_decay",
    "basket_size_profile",
    "gini_by_nation",
    "single_source_risk",
    "shipping_delay_percentiles_by_priority",
    "trade_flow_matrix",
    "return_rate_by_discount_band",
    "price_dispersion_by_part_type",
    "engagement_frequency_histogram",
    "error_recovery_histogram",
    "session_depth_conversion",
    "dup_rate_by_quality_band",
    "brand_price_realization",
    "doc_feature_correlation",
    "attribution_model_comparison",
    "ivm_topk_delta",
    "type_seasonality_index",
    "term_burstiness_topk",
    "media_byte_entropy",
    "supplier_delivery_consistency",
    "theil_sen_trend_by_nation",
    "spearman_rev_aov_nations",
    "kendall_tau_brand_ranks",
    "yoy_growth_by_type",
    "customer_reactivation_monthly",
    "funnel_stage_latency",
    "embedding_label_centroid_separation",
    "hapax_rate_by_source",
    "size_demand_curve",
    "orderstatus_consistency_audit",
    "mktsegment_nation_mix",
    "anova_dim1_by_label",
    "linenumber_position_effect",
    "positional_novelty_curve",
    "fdr_bh_screening",
    "neyman_allocation",
    "runs_test_daily_revenue",
    "activity_streak_histogram",
    "customer_value_drift_by_tenure",
    "lang_source_interaction_scan",
    "catalog_name_collision_audit",
    "supplier_month_peak_ratio",
    "brand_pareto_curve",
    "session_value_by_entry_type",
    "doc_cooccurrence_lift_topk",
    "centroid_classifier_eval",
    "temporal_integrity_by_year",
    "month_end_loading_audit",
    "part_price_consistency_topk",
    "t_closeness_audit",
    "ivm_distinct_delta",
    "jackknife_se_by_nation",
    "capture_recapture_customers",
    "priority_transition_matrix",
    "chow_test_break",
    "laspeyres_price_index",
    "stylometry_burrows_delta",
    "fisher_price_index",
    "type_demand_transfer_topk",
    "dow_seasonality_strength",
    "part_launch_velocity_topk",
    "debt_activity_quadrant",
    "hill_tail_index",
    "bass_diffusion_fit",
    "newsvendor_quantile_by_type",
    "order_count_dispersion",
    "yule_k_by_source",
    "eoq_by_type",
    "page_hinkley_revenue",
    "order_total_reconciliation",
    "discount_demand_response",
    "suppliers_per_order_profile",
    "tukey_fence_outlier_days",
    "nation_revenue_cagr",
    "simpson_diversity_by_lang",
    "quantile_shift_by_priority",
    "design_effect_by_nation",
    "spc_range_sigma_ratio",
    "ljung_box_q",
    "kpss_stationarity_proxy",
    "label_pair_similarity_split",
    "effect_size_priority",
    "mann_kendall_trend",
    "benford_second_digit_audit",
    "key_account_concentration_by_type",
    "weekpart_nation_lift",
    "purchase_acceleration_share",
    "first_order_dow_profile",
    "part_lifecycle_span",
    "catalog_expansion_curve",
    "regional_price_parity_index",
    "sampling_moe_table",
    "revenue_waterfall_by_year",
    "brand_price_comovement_topk",
    "lead_time_by_supplier_nation",
    "error_concentration_dispersion",
    "median_price_by_quantity",
    "second_order_latency_by_cohort",
    "token_length_histogram",
    "supplier_balance_volume_corr",
    "weighted_jaccard_source_pairs",
    "interarrival_cv2_by_type",
    "renyi_entropy_spectrum",
    "supplier_hhi_by_part_type",
    "basket_size_value_interaction",
    "multinational_fulfillment_rate",
    "key_time_correlation",
    "price_ending_digits_topk",
    "dow_consistency_histogram",
    "event_type_run_histogram",
    "eb_shrunk_return_rates",
    "linestatus_share_by_quarter",
    "revenue_volatility_by_nation",
    "market_portfolio_quadrant",
    "delay_by_discount_grid",
    "type_mom_movers_topk",
    "volume_value_divergence_by_year",
    "brand_peak_month",
    "return_rate_wilson_rank",
    "route_delay_topk",
    "source_mix_by_ingest_decile",
    "priority_mix_by_value_quartile",
    "brand_discovery_curve",
    "size_type_price_interaction",
    "user_type_entropy_histogram",
    "delay_by_value_quartile",
    "user_value_concentration",
    "order_span_histogram",
    "horizon_edge_audit",
    # round-5 additions
    "substring_dup_spans",
    "substring_dedup_from_index",
    "ann_ivfpq_topk",
    "ann_ivfpq_recall_eval",
    "cross_correlation_lags",
    "tax_rate_mix_by_year",
    "histogram_bin_advisor",
    "markov_absorption_k_step",
    "embedding_gram_isotropy",
    "intrinsic_dim_two_nn",
    "rayleigh_uniformity_by_type",
    "exp_gof_interarrival",
    "lang_trigram_divergence",
    "markov_removal_effects",
    "kruskal_wallis_delay_by_priority",
    "weibull_shape_reorder",
    "mcnemar_quality_gates",
    "int8_recall_eval",
    "shapley_channel_attribution",
    "silhouette_by_label",
    "friedman_priority_by_year",
    "cochran_q_activity_years",
    "blocking_quality_eval",
    "davies_bouldin_labels",
    "log_odds_terms_by_lang",
    "substring_dup_share_by_source",
    "theil_decomposition_by_nation",
    "quality_score_auc",
    "psi_monthly_series",
    "loo_1nn_accuracy",
    "tornqvist_price_index",
    "langid_cohens_kappa",
    "not_in_null_semantics",
    "grouping_id_report",
    "hubness_k_occurrence",
    "acf_differenced_revenue",
    "degree_assortativity_graph",
    "shuffle_partition_advisor",
    "safety_stock_by_type",
    "markov_entropy_rate",
    "gains_table_quality_score",
    "null_ordering_semantics",
    "cumulative_new_users_daily",
    "gk_sketch_error_eval",
    "hll_error_eval",
    "revenue_cvar_daily",
    "ivf_nprobe_recall_curve",
    "pq_codebook_utilization",
    # round-6 post-snapshot ops (booked in round 7 per the r6 verdict)
    "atkinson_index_by_nation",
    "price_volume_bridge_yoy",
    "winsorized_mean_delay_by_priority",
    "mad_robust_z_by_nation",
    "grubbs_daily_revenue",
    "pacf_daily_revenue",
    "hurst_rs_daily_revenue",
    # round-7: classical statistical-test suite
    "jarque_bera_daily_revenue",
    "cramer_von_mises_two_sample",
    "levene_bf_delay_by_priority",
    "bartlett_variance_by_priority",
    "variance_ratio_daily_revenue",
    "cox_stuart_trend_daily",
    "turning_point_test_daily",
    "brier_decomposition_quality",
    "matthews_corrcoef_gates",
    "pr_auc_quality_score",
    "page_trend_test_priority",
    "copurchase_triangle_census",
    "adamic_adar_link_topk",
    "ewma_control_chart_daily",
    "theil_u2_daily_forecast",
    "gumbel_block_maxima_fit",
    "palma_ratio_by_nation",
    "walsh_price_index",
    "price_elasticity_by_type",
    "poisson_bootstrap_se_daily",
    "horvitz_thompson_total",
    "media_format_sniff",
    "embedding_clip_bounds_int8",
    "jl_projection_distortion_eval",
    "wilcoxon_signed_rank_types",
    "mood_median_test_delay",
    "poisson_dispersion_daily_orders",
    "spectral_periodogram_weekly",
    "cohens_h_return_priorities",
    "durbin_watson_daily",
    "log_rank_reorder_segments",
    "welch_ttest_segments",
    "hodges_lehmann_delay_shift",
    "hoover_index_by_nation",
    "breusch_pagan_daily",
    "newey_west_se_daily",
    "wasserstein_length_by_source",
    "js_divergence_source_pairs",
    "cochran_armitage_discount_trend",
    "mantel_haenszel_return_discount",
    "kmv_distinct_eval",
    "nelson_aalen_reorder",
    "granger_orders_to_revenue",
    "knn_reciprocity_rate",
    "cusumsq_variance_break_daily",
    "embedding_participation_ratio",
    "anderson_darling_two_sample",
    "partial_corr_value_delay_lines",
    "cronbach_alpha_nation_months",
    "kendalls_w_nation_rank_stability",
    "gpd_tail_fit_daily",
    "distance_correlation_delay_value",
    "littles_law_monthly",
    "chained_laspeyres_monthly",
    "diebold_mariano_naive_vs_ols",
    "lorenz_asymmetry_by_nation",
    "pettitt_changepoint_daily",
    "seasonal_mann_kendall_dow",
    "james_stein_nation_means",
    "conformal_interval_naive_daily",
    "cluster_robust_se_nation",
    "oaxaca_value_gap_segments",
    "sprt_urgent_rate_monitor",
    "raking_ipf_nation_segment",
    "var_backtest_daily",
    "tukey_hsd_delay_priorities",
    "functional_dependency_audit",
    "median_ci_delay_by_priority",
    "ansari_bradley_delay_scale",
    # round-8: close the registry<->HEADLINE gap (r7 verdict item 2) —
    # every registered query is benched unless it carries an explicit,
    # tested EXCLUDED reason below. These 99 were previously un-benched
    # prose-era omissions; all run sub-11 s at sf0.1 (measured r8).
    "projection_alias",
    "filter_conjunctive",
    "filter_disjunctive",
    "join_2way",
    "join_semi",
    "join_anti",
    "agg_count_distinct",
    "orderby_multi_mixed",
    "union_distinct",
    "intersect_distinct",
    "except_distinct",
    "derived_table_agg",
    "cte_form",
    "scalar_conditional",
    "error_relation",
    "dup_col_rename",
    "nl2sql_end_to_end",
    "except_intersect_all",
    "lateral_join",
    "correlated_avg_subquery",
    "window_rank",
    "rollup_agg",
    "json_extract",
    "window_offsets",
    "stats_agg",
    "histogram_bins",
    "median_mode",
    "incremental_rollup",
    "scd2_dim_build",
    "funnel_conversion",
    "retention_cohorts",
    "cdc_latest_compaction",
    "percent_rank_cume",
    "window_range_rolling",
    "percentile_approx_sketch",
    "datetime_functions",
    "string_agg_ordered",
    "boolean_linreg_agg",
    "window_fill_forward",
    "pct_of_total",
    "histogram_equidepth",
    "cohort_retention",
    "conversion_funnel",
    "ivm_agg_delta",
    "window_rank_suite",
    "winsorized_mean",
    "array_functions",
    "higher_order_functions",
    "regex_functions",
    "null_handling",
    "posexplode_ordinal",
    "map_struct_functions",
    "er_blocked_pairs",
    "stream_dedup_vs_corpus",
    "join_left_outer",
    "join_full_outer",
    "join_cross",
    "in_subquery",
    "scalar_subquery",
    "having_filter",
    "distinct_projection",
    "pivot_wide",
    "unpivot_long",
    "cube_agg",
    "string_functions",
    "math_functions",
    "argmax_minby",
    "asof_join",
    "range_join",
    "approx_distinct",
    "not_in_subquery",
    "merge_upsert",
    "exists_correlated",
    "bitwise_agg",
    "hash_functions",
    "python_datasource_scan",
    "cdc_latest_snapshot",
    "multimodal_metadata",
    "text_tokens",
    "text_fingerprint",
    "dataset_split",
    "stratified_sample",
    "levenshtein_nearest",
    "udtf_trigrams",
    "heavy_hitters_twopass",
    "dedup_clusters",
    "decontaminate_bloom",
    "dedup_keep_best",
    "curation_funnel",
    "skew_profile",
    "embedding_centroids",
    "embedding_pca_power",
    "cosine_pandas_udf_topk",
    "dedup_embedding_lsh_pairs_capped",
    "dedup_embedding_lsh_multiprobe",
    "reservoir_sample_per_group",
    "export_shards",
    "window_sliding",
    "stream_dedup_batch_twin",
    # round-8 additions: co-purchase graph tier + streaming outer join
    "copurchase_connected_components",
    "copurchase_component_profile",
    "copurchase_kcore_summary",
    "copurchase_jaccard_topk",
    "copurchase_local_clustering_topk",
    "copurchase_local_bridges",
    "copurchase_eigenvector_topk",
    "copurchase_avg_neighbor_degree",
    "interval_left_join_conversions",
    "bucketed_colocated_join",
    "partition_pruned_rollup",
    "zorder_boxed_rollup",
    # round-9 additions
    "dpp_quarter_star_join",
    "copurchase_strength_topk",
    "copurchase_strength_profile",
    "copurchase_weighted_eigenvector_topk",
    "marshall_edgeworth_price_index",
    "sato_vartia_price_index",
    "hill_numbers_by_nation",
    "lang_evenness_by_source",
    "cr4_revenue_by_nation",
    "siegel_tukey_delay_scale",
    "jonckheere_terpstra_priority_trend",
    "brunner_munzel_delay",
    "goldfeld_quandt_monthly",
    "dagostino_k2_daily_revenue",
    "bloom_runtime_filter_join",
    "holt_winters_additive_daily",
    "ge_indices_by_nation",
    "kneser_ney_bigram_topk",
    "nb_dispersion_by_segment",
    "quartile_shape_by_priority",
    "mase_weekly_naive_daily",
    "pinball_loss_daily_forecast",
    "bartels_von_neumann_daily",
    "hard_negative_mining_topk",
    "dp_sensitivity_by_nation",
    "last_digit_uniformity_audit",
    "referential_integrity_audit",
    "percentile_disc_delay_by_priority",
    "pythagorean_means_by_type",
    "debounce_events_by_type",
    "theta_method_forecast_daily",
    "cuped_variance_reduction",
    "did_segment_policy_estimate",
    "rdd_acctbal_cutoff",
    "smd_covariate_balance",
    "copurchase_brand_modularity",
    "energy_distance_delay",
    "fdr_by_screening",
    "best_split_information_gain",
    "rosner_esd_extremes_daily",
    "tail_dependence_value_delay",
    "association_rules_topk",
    # round-10 additions
    "cbo_join_reorder_rollup",
    "props_variant_profile",
    "copurchase_weighted_score_summary",
    "copurchase_community_labels_topk",
    "good_turing_unseen_mass",
    "chao1_vocab_richness",
    "hellinger_lang_divergence_by_source",
    "dunns_posthoc_delay_priorities",
    "hampel_outlier_days",
    "wape_smape_daily_naive",
    "tracking_signal_daily_naive",
    "croston_intermittent_topk",
    "qq_shift_function_delay",
    "yuen_trimmed_ttest_delay",
    "bradley_terry_brand_ranks",
    "hits_brand_authority_topk",
    "rbo_brand_rank_agreement",
    "ndcg_popularity_vs_revenue",
    "observed_single_pass_audit",
    "parameterized_segment_topk",
    "collation_ci_campaign_rollup",
    "cliffs_delta_delay",
    "lepage_delay_location_scale",
    "ordinal_association_priority_delay",
    "hosmer_lemeshow_quality_score",
    "spiegelhalter_z_quality_score",
    "youden_threshold_quality_score",
    "elementary_price_indices",
    "demand_classification_adi_cv2",
    "taylors_power_law_nations",
    "keyness_g2_short_vs_long",
    "craigs_zeta_short_vs_long",
    "weibull_mle_scripting",
    "gehan_wilcoxon_reorder",
    "quade_test_priority_by_year",
    "damped_trend_forecast_daily",
    "dirichlet_lm_search",
    "categorical_association_lang_source",
    "variance_explained_priority_delay",
    "fano_factor_event_windows",
    "rmst_reorder_segments",
    "binary_segmentation_daily_revenue",
    "shard_apportionment_sources",
    "holm_hochberg_screening",
    "goodman_kruskal_lambda_lang_source",
    "woe_iv_gate_by_source",
    "kuiper_dow_uniformity",
    "allan_variance_event_counts",
    # round-11: catalog SQL UDF axis + the mapInArrow seam twin
    "sql_udf_phi_screening",
    "sql_udf_quad_trend_fit",
    "cosine_arrow_topk",
    # round-11: the remaining classical two-sample / robust-scale shelf
    "cucconi_delay_location_scale",
    "sn_scale_delay_by_priority",
    "qn_scale_delay_by_priority",
    "fligner_killeen_delay_scale",
    # round-11: agreement coefficients + residual-diagnostics completion
    "langid_scott_pi",
    "langid_gwet_ac1",
    "langid_krippendorff_alpha",
    "weighted_kappa_priority_delay",
    "arch_lm_daily",
    "white_het_test_daily",
    "reset_test_daily",
    "prais_winsten_daily",
    "deming_ccc_monthly",
    # round-11: concentration/inequality, SPC panel, hybrid retrieval,
    # and the centrality/topology completions
    "rosenbluth_kwoka_by_nation",
    "bonferroni_zenga_by_nation",
    "nelson_rules_daily",
    "capability_cpk_delay",
    "rrf_hybrid_search",
    "copurchase_katz_topk",
    "copurchase_rich_club",
]

#: Registry entries deliberately NOT in HEADLINE — data, not prose (r7
#: verdict item 2). tests/test_registry.py asserts HEADLINE and
#: EXCLUDED partition the registry exactly AND that the committed
#: BENCH_full_latest.json keys equal HEADLINE, so a registered query
#: can no longer silently skip the bench and the sealed artifact can no
#: longer lag a HEADLINE edit (the r7 ansari_bradley staleness).
EXCLUDED: dict[str, str] = {
    "dedup_embedding_cosine": (
        "exact all-pairs cosine ORACLE BASELINE (49 s at sf0.1, "
        "quadratic by design); dedup_embedding_lsh_pairs_capped / "
        "_multiprobe are the benched production shapes it validates"
    ),
    "dedup_ngram_jaccard": (
        "all-pairs n-gram Jaccard ORACLE BASELINE; "
        "dedup_minhash_lsh_pairs_capped + dedup_lsh_verified_pairs are "
        "the benched production shapes"
    ),
    "dedup_minhash_lsh_pairs": (
        "uncapped LSH pair enumeration kept as the oracle baseline for "
        "the hot-bucket cap; dedup_minhash_lsh_pairs_capped is the "
        "benched production shape"
    ),
    "ntile_rfm": (
        "reference-pinned GLOBAL NTILE is a deliberate single-partition "
        "plan (prompts.py parity); ntile_rfm_scalable / "
        "rfm_quantile_scores are the benched scalable twins"
    ),
    "tpch_q1": "registry alias of agg_pricing_summary (same callable, benched)",
    "tpch_q2": "registry alias of min_cost_per_part (same callable, benched)",
    "tpch_q21": "registry alias of pending_returns_q21 (same callable, benched)",
    "tpch_q22": "registry alias of lapsed_customers_q22 (same callable, benched)",
}


def _round_number(repo: str) -> int:
    """Current round: explicit SPARK_GRAFT_ROUND wins (the r5 ADVICE
    fix); otherwise max(BENCH_r*)+1 — the driver writes BENCH_r{N}.json
    at round END, so the max existing stamp is the last COMPLETED round."""
    env_round = os.environ.get("SPARK_GRAFT_ROUND")
    if env_round and env_round.isdigit():
        return int(env_round)
    rounds = [
        int(m.group(1))
        for f in os.listdir(repo)
        if (m := re.match(r"BENCH_r(\d+)\.json$", f))
    ]
    return max(rounds, default=0) + 1


def seal_paths(repo: str, round_n: int, bench_n: int, only: bool) -> list[str]:
    """Where a run's artifact goes, decided once before anything is
    written, so the round seal and ``latest`` are written together or
    not at all (``test_round_seal_equals_latest``).

    - A restricted ``--only`` merge updates whichever of the two exist;
      it never creates a round seal.
    - A full run writes both, unless either holds a higher ``bench_n``
      (r8 verdict item 1: an N=1 sweep must never replace an N=3 seal
      with noisier medians). Then it writes only
      ``BENCH_full_scratch.json``, and neither seal file.
    """
    targets = [
        os.path.join(repo, f"BENCH_full_r{round_n:02d}.json"),
        os.path.join(repo, "BENCH_full_latest.json"),
    ]
    if only:
        return [p for p in targets if os.path.exists(p)]
    for path in targets:
        if not os.path.exists(path):
            continue
        with open(path) as fh:
            existing_n = int(json.load(fh).get("bench_n", 1))
        if existing_n > bench_n:
            sys.stderr.write(
                f"bench.py: refusing to overwrite N={existing_n} seal "
                f"with N={bench_n} run; wrote scratch\n"
            )
            return [os.path.join(repo, "BENCH_full_scratch.json")]
    return targets


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    # Restricted merge mode (r8 verdict item 1): `python bench.py --only
    # name ...` times ONLY the named HEADLINE queries and MERGES their
    # rows into the committed artifacts, so registering a new operator
    # mid-round doesn't force a full-suite rerun (which, at N=1, would
    # clobber the sealed N=3 medians — the exact r8 incident).
    only: list[str] = []
    if len(sys.argv) > 1 and sys.argv[1] == "--only":
        only = sys.argv[2:]
        unknown = [n for n in only if n not in HEADLINE]
        if unknown:
            raise SystemExit(f"--only names not in HEADLINE: {unknown}")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from ai_etl_studio_spark.catalog import load_table
    from ai_etl_studio_spark.session import get_spark
    from ai_etl_studio_spark.operators import load_all

    spark = get_spark(app_name="ai-etl-studio-spark-bench")
    queries, _ = load_all()

    # Warm outside the timed region: parquet footers, then one pass of
    # every headline query at the smallest SF so codegen/JIT compilation
    # (2-3x the steady-state cost on first run) isn't attributed to the
    # engine. The timed region below measures throughput, not warmup.
    load_table(spark, sf_dir, "lineitem").count()
    # build-once artifacts are warmed here so the timed region measures
    # serving from the persisted index, not the one-time build
    from ai_etl_studio_spark.operators.analytics import ensure_pagerank_edge_index
    from ai_etl_studio_spark.operators.dedup import (
        ensure_boilerplate_index,
        ensure_substring_index,
    )
    from ai_etl_studio_spark.operators.similarity import ensure_pq_code_index

    from ai_etl_studio_spark.operators.extended import (
        ensure_bucketed_orderkey_tables,
        ensure_column_stats,
        ensure_month_partitioned_orders,
        ensure_zorder_orders,
    )

    ensure_pagerank_edge_index(spark, sf_dir)
    ensure_boilerplate_index(spark, sf_dir)
    ensure_substring_index(spark, sf_dir)
    ensure_pq_code_index(spark, sf_dir)
    ensure_bucketed_orderkey_tables(spark, sf_dir)
    ensure_month_partitioned_orders(spark, sf_dir)
    ensure_zorder_orders(spark, sf_dir)
    ensure_column_stats(spark, sf_dir)
    warm_dir = "/root/testdata/sf0.001"
    bench_names = only if only else list(HEADLINE)
    if os.path.isdir(warm_dir) and os.path.realpath(warm_dir) != os.path.realpath(
        sf_dir
    ):
        for name in bench_names:
            try:
                queries[name](spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass  # warmup must never fail the bench

    # Per-query MEDIAN over SPARK_GRAFT_BENCH_N runs (default 1 to keep
    # the driver's per-round wall-clock unchanged; set 3 for the
    # committed round artifact): N=1 rollups drift ~1.25x with ambient
    # machine load, which reads as a plan regression it isn't (the r5
    # verdict's tpch_total 15.57 -> 17.66 s finding). Repeats run as
    # full passes over the suite, not back-to-back per query, so cache
    # warmth is comparable across repeats.
    bench_n = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "1")))
    # Measurement integrity (r11 verdict, gaming item 3): the
    # copurchase graph memo (_CP_GRAPH_CACHE) legitimately shares one
    # checkpointed graph across the ~15 copurchase_* ops inside a real
    # session, but inside the bench it turned per-query rows into
    # cache-hit times (0.17 s sealed vs 3.9 s cold for
    # copurchase_strength_topk). Clear it before EVERY timed run so
    # each row pays its own full build; the memo stays for
    # non-benchmark composition.
    from ai_etl_studio_spark.operators.insights import _CP_GRAPH_CACHE

    runs: dict[str, list[float]] = {name: [] for name in bench_names}
    for _ in range(bench_n):
        for name in bench_names:
            fn = queries[name]
            _CP_GRAPH_CACHE.clear()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs[name].append(time.perf_counter() - t0)
    timings: dict[str, float] = {
        name: round(statistics.median(ts), 3) for name, ts in runs.items()
    }
    repo = os.path.dirname(os.path.abspath(__file__))

    if only:
        # Merge the restricted rows into the committed artifact, keeping
        # every other query's sealed median untouched. bench_n records
        # the WEAKEST repeat count among surviving rows, so a sealed N=3
        # artifact merged with an N=1 restricted row honestly reads
        # bench_n=1 until the next full seal re-runs everything.
        latest_path = os.path.join(repo, "BENCH_full_latest.json")
        # r9 ADVICE: guard the unconditional open (fresh checkout has
        # no artifact) and refuse to mix rows timed at a different
        # scale factor into a sealed artifact whose 'sf' field would
        # silently misdescribe them.
        if not os.path.exists(latest_path):
            sys.exit(
                "bench.py --only needs an existing BENCH_full_latest.json "
                "to merge into; run a full (un-restricted) bench first"
            )
        with open(latest_path) as fh:
            payload = json.load(fh)
        sealed_sf = payload.get("sf")
        if sealed_sf is not None and float(sealed_sf) != sf:
            sys.exit(
                f"bench.py --only: restricted run at sf={sf} cannot merge "
                f"into an artifact sealed at sf={sealed_sf}; rerun with "
                f"SPARK_GRAFT_SF_DIR matching the seal"
            )
        payload["queries"].update(timings)
        payload["bench_n"] = min(int(payload.get("bench_n", 1)), bench_n)
        payload["value"] = round(sum(payload["queries"].values()), 3)
    else:
        payload = None  # built below from the full run
    total = round(sum(timings.values()), 3)
    # TPC-H tracked as ONE number so round-over-round movement of the
    # 22-query suite (18 tpch_q* + the 4 r1 originals that tpch_q1/q2/
    # q21/q22 alias) is a single comparison in BENCH_r{N}.json
    all_timings = payload["queries"] if payload else timings
    tpch_names = [n for n in all_timings if n.startswith("tpch_q")] + [
        "agg_pricing_summary",      # tpch_q1
        "min_cost_per_part",        # tpch_q2
        "pending_returns_q21",      # tpch_q21
        "lapsed_customers_q22",     # tpch_q22
    ]
    tpch_total = round(
        sum(all_timings[n] for n in tpch_names if n in all_timings), 3
    )
    if payload is None:
        payload = {
            "metric": "headline_suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "tpch_total": tpch_total,
            "bench_n": bench_n,
            "sf": sf,
            "cores": spark.sparkContext.defaultParallelism,
        }
    else:
        payload["tpch_total"] = tpch_total
    print(json.dumps(payload))
    # The driver's BENCH_r{N}.json keeps only a 4 KB stdout tail, which
    # truncates the per-query map past ~80 queries (r4 verdict item 4).
    # Persist the FULL map to a round-stamped artifact so per-query
    # round-over-round comparison works from files alone.
    try:
        full = json.dumps(payload, indent=1, sort_keys=True)
        for path in seal_paths(repo, _round_number(repo), bench_n, bool(only)):
            with open(path, "w") as fh:
                fh.write(full + "\n")
    except OSError:
        pass  # artifact write must never fail the bench


if __name__ == "__main__":
    main()
