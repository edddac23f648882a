"""Driver-contract invariants: the registry must stay well-formed —
every oracle key names a query, names are unique and stable, entry()
uses a registered query, and the cluster profile emits sane conf."""

from __future__ import annotations

import __spark_entry__ as entrymod
from sparkksqldbbenchmark_spark.session import cluster_profile


def test_registry_well_formed():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 50
    assert set(oracles) <= set(qs), "oracle without a query"
    # every registered query is oracle-checked as of round 4 (the two
    # former rows-only rows gained deterministic oracles per VERDICT r03)
    rows_only = set(qs) - set(oracles)
    assert not rows_only, f"unexpected rows-only queries: {rows_only}"
    for name, sql in oracles.items():
        assert sql.strip().upper().startswith(("SELECT", "WITH")), name


def test_registry_order_fits_driver_window():
    """The driver grades only the first DRIVER_WINDOW registered queries.
    Every oracle-bearing query outside TAIL must land inside that window,
    and TAIL names must actually exist (a typo would silently ungrade a
    real query)."""
    qs = entrymod.queries()
    names = list(qs)
    assert set(entrymod.TAIL) <= set(names), "TAIL names a missing query"
    head = names[: entrymod.DRIVER_WINDOW]
    displaced = [n for n in names[entrymod.DRIVER_WINDOW:] if n not in entrymod.TAIL]
    assert not displaced, (
        f"queries displaced past the driver's {entrymod.DRIVER_WINDOW}-row "
        f"grading window: {displaced} — extend TAIL deliberately or trim"
    )
    assert all(n not in entrymod.TAIL for n in head[: len(names) - len(entrymod.TAIL)])


# The exact expected graded-head prefix for THIS round. The plan modules
# carrying prior cohorts import behind try/except in __spark_entry__
# (ADVICE r14): if one silently failed to import, the registry would
# still satisfy len>=50 and the window test via TAIL rows, and the
# driver would quietly grade already-pinned TAIL rows instead of the
# intended head. Pinning the head names makes that failure loud.
# Regenerate on each deliberate rotation.
EXPECTED_HEAD = (
    "streaming_cdc_latest",
    "python_datasource_stream_agg",
    "streaming_dedup_then_window",
    "streaming_stateful_topk_per_key",
    "streaming_rocksdb_state_store",
    "streaming_union_multiple_watermarks",
    "curation_pipeline_v4_composed",
    "weather_window_agg",
    "multiway_timejoin_ffill",
    "tpch_q3_shipping_priority",
    "dedup_minhash_lsh",
    "multimodal_decode_roundtrip",
    "streaming_window_agg",
    "streaming_watermarked_append",
    "streaming_latest_table",
    "streaming_update_mode_final",
    "streaming_sessionize",
    "streaming_union_window_agg",
    "streaming_stream_join",
    "streaming_dedup_distinct_keys",
    "streaming_static_enrich",
    "streaming_hopping_agg",
    "streaming_dropdup_within_watermark",
    "streaming_stream_left_join",
    "streaming_stream_full_outer_join",
    "streaming_session_window_agg",
    "streaming_session_window_append",
    "streaming_observe_metrics",
    "streaming_foreachbatch_exactly_once",
    "python_datasource_simple_stream",
    "streaming_checkpoint_restart_resume",
    "supervised_discretization_merge_sweep",
    "seasonal_cusum_residual_flags",
    "rrf_weighted_fusion_exact",
    "pareto_knee_maxcross",
    "context_length_policy_sweep",
    "density_greedy_budget_certified",
    "sortkey_delta_compression_estimate",
    "dp_sensitivity_noise_budget",
    "team_draft_interleave_preference",
    "km_hazard_table_exact",
    "streaming_window_exact_median",
    "skew_salt_plan_from_histogram",
    "allen_interval_relation_matrix",
    "winnowing_fingerprint_density_certified",
    "edit1_neighborhood_join_complete",
    "bpe_merge_supersteps_greedy",
    "seasonal_theil_sen_residual_slope",
    "mmr_lambda_sweep_learned",
    "curation_pipeline_v5_composed",
)


def test_graded_head_is_exactly_the_planned_cohort():
    """Set comparison, not sequence: under pytest, other test modules
    may import plan modules before this one, legally permuting the
    registry's insertion order within the head — the driver imports
    __spark_entry__ in a fresh interpreter where the order is the
    module-import order. The set check still catches the failure this
    test exists for: a silently-dropped plan module grading TAIL rows
    in place of the planned cohort."""
    names = list(entrymod.queries())
    head = set(names[: len(EXPECTED_HEAD)])
    missing = set(EXPECTED_HEAD) - head
    extra = head - set(EXPECTED_HEAD)
    assert not missing and not extra, (
        "graded head drifted from the planned rotation — a plan module "
        f"failed to import: missing={sorted(missing)[:5]} "
        f"extra={sorted(extra)[:5]}"
    )


# Pinned implementation fingerprints for every TAIL query (see
# tools/tail_hash.py). A TAIL query rides on a PRIOR round's green
# verdict; that evidence is void if its implementing source changed
# since. If this test fails after an intentional change: rotate the
# query back into the head (remove from TAIL) so the driver re-grades
# it, or — only for a deliberate TAIL re-pin of an UNCHANGED-semantics
# edit such as a comment fix — regenerate with `python tools/tail_hash.py`.
TAIL_SOURCE_SHA256 = {
    "theil_sen_slope_exact": "de212874d5ff856d",
    "benjamini_hochberg_fdr_stepup": "7500e7a7da7d3545",
    "benjamini_yekutieli_fdr_exact": "d4429e28e8505e50",
    "mcnemar_paired_exact": "266355e75857a259",
    "kruskal_wallis_rank_exact": "77a977c078eed85d",
    "wasserstein_1d_histogram_exact": "8526f63eb13491d9",
    "capture_recapture_chapman_estimate": "6f09dce3ab4d0ffd",
    "sequence_packing": "d1d821a70312643e",
    "token_budget_selection": "b43116ec577d49b7",
    "streaming_chained_window_agg": "88b01e5cbfe4b622",
    "temporal_split_straddle_audit": "6f6c5224aecd05ff",
    "psi_drift_bins_exact": "42b6cc5f1f84a502",
    "graph_pregel_superstep2": "3fa1853c75993da7",
    "curation_pipeline_v3_composed": "c7f72d273a523997",
    "pav_isotonic_calibration_binned": "d479055002c7f14c",
    "kendall_tau_topk_exact": "e517fc62c4feba83",
    "shapley_attribution_exact": "216bb90d1da23778",
    "bigram_draft_acceptance_rate": "ab2244ecb6b09066",
    "prefix_cache_hit_mass": "c52b4b11adcd5301",
    "k_anonymity_risk_audit": "b9bddb62bfdbd37a",
    "bootstrap_ci_daily_mean": "68f88716c88e80b6",
    "join_cardinality_histogram_estimate": "a54253f1f607270f",
    "rolling_origin_backtest_folds": "6a7776269b34e509",
    "dpo_margin_pair_mining": "61e0152420682369",
    "join_cardinality_skew_twin": "df524fe7fb0adc94",
    "reciprocal_rank_fusion_exact": "b3069121017afe68",
    "cdc_chunk_dedup_mass": "9db3dd77dc50310d",
    "shapley_sampled_permutations_certified": "e2aba38576ab7f3e",
    "fagin_ta_topk_certified": "6ecc9bb1a1ca913e",
    "err_exact_dyadic": "81ed2f5127cf5dbb",
    "kmv_intersection_estimate_certified": "85dde66b5627bc7d",
    "padding_waste_sorted_vs_fifo": "ac9ec75485544633",
    "conformal_interval_coverage_exact": "e5103633c3f721e7",
    "pinball_loss_exact": "97ceeb71fef0313d",
    "mmr_diversified_top3_exact": "83962923c70fd688",
    "successive_halving_plan": "3f86798bc395f9c1",
    "l_diversity_risk_audit": "1d2a7972ab7235c6",
    "join_cardinality_mg_sidecar_estimate": "5ba22ab18a62d6d6",
    "early_stopping_patience_plan": "10ae16ab13c68902",
    "dow_seasonal_median_residuals": "9b7c5e89edbcebc2",
    "brier_reliability_bins_exact": "2038d1d4df4c6480",
    "mmr_diversified_topk_weighted": "d4dc0c0da2015221",
    "streaming_watermark_late_drop": "8256829e894a1081",
    "streaming_outer_join_null_emission": "3b9b1970df12995d",
    "streaming_dedup_within_watermark_reemit": "72bfe24b8def5988",
    "streaming_semi_join_first_match": "69df42fd6403d29e",
    "cusum_drift_flags": "3aea7c00cc49746b",
    "delta_sign_runlength_stats": "6e440ddfa86f451a",
    "stratified_kfold_assignment": "a65e02a8e12f7b4a",
    "farthest_point_init_quantized": "885ffc1dc24aab81",
    "attribution_last_touch_windowed": "6792e25e9b7881e5",
    "null_scalar_breadth_suite": "f98a92ed51cd1759",
    "csv_escape_quote_matrix": "4534102345ccecb7",
    "monthly_revenue_mom_yoy": "d79d41f2b0364cf0",
    "longest_repeated_substring_extract": "922842425c5ebd7d",
    "weighted_bottomk_priority_sample": "8752bcf33143bb85",
    "streaming_session_window_late_drop": "1268ff8126f97ffe",
    "transition_dwell_matrix": "492f790f7b4111e4",
    "streaming_dynamic_gap_session_late_drop": "ac5b4e898e0ace29",
    "multi_probe_recall_at_k_certified": "5c618921d77cd9bc",
    "order_to_ship_leadtime_histogram": "bb36b11eb4d9e01d",
    "token_tv_distance_matrix": "1f4529c9d115159f",
    "chi2_independence_contingency": "c69c92d3e7150d5f",
    "local_clustering_coefficient": "ffdc825c32aef0c2",
    "kmv_sketch_union_merge_certified": "ab16e4ab8875c04b",
    "skyline_pareto_frontier": "1d6dc75a70f81339",
    "streaming_full_outer_join_both_nulls": "5d407493ac7ec84c",
    "gopher_repetition_rules": "a859ec95071ed802",
    "cohens_kappa_exact": "c9efd76ba57cc6b4",
    "waterfill_budget_allocation": "ee77677cbc9f3df8",
    "graph_2hop_degree_sum": "c3af6d6ef779a87c",
    "data_retention_expiry_plan": "725f90cb9a493429",
    "decontam_bloom_prefilter_certified": "3349f499b50c885c",
    "bbit_minwise_estimate_on_candidates": "94b891705cc26aff",
    "audio_decimate_boxcar": "55914bbd740d8010",
    "jl_projection_distance_certified": "5e2f6856bdf836b8",
    "sft_loss_mask_plan": "aecc4f896998bf74",
    "curation_pipeline_v2_composed": "f9e432f40b8091c3",
    "rendezvous_shard_assignment_certified": "0217b5c12be4dfcf",
    "average_precision_exact": "5bccabacbed09ec3",
    "macro_f1_exact": "23e770c834aa2d6b",
    "gk_summary_union_merge_certified": "ec84339b420d6871",
    "xpath_scalar_suite": "f397e5530be6dd11",
    "mode_median_suite": "b38a2a43d4b650ce",
    "calendar_function_suite": "1664ce85fb34060e",
    "label_inverse_frequency_weights": "f95bb9980a83f58c",
    "datetime_constructor_suite": "f59271e4ba36c702",
    "mask_crypto_suite": "84e97ed10fff1f96",
    "compression_codec_matrix": "460c531e4dda6fac",
    "event_type_affinity_cosine": "27ed0108302d1607",
    "lorenz_concentration_deciles": "54037922fbb69b9a",
    "periodicity_detector_planted": "68b05dc5cbd8115a",
    "blocklist_aho_corasick_stage": "f7e9fc5d490113d7",
    "mixture_schedule_manifest": "36d55fdbeabac39e",
    "max_drawdown_summary": "14fe9fe8f142676c",
    "stickiness_dau_mau": "2487be0d73708295",
    "event_path_trigrams": "c0aeb17565709d06",
    "rfm_segment_counts": "22f074f923949903",
    "equi_depth_partition_bounds": "9b0cf1da0f3732a2",
    "cohort_ltv_accumulation": "88a005233ecb4f67",
    "reservoir_bottomk_certified": "540fba811337fe0f",
    "class_balanced_undersample": "21a8d8cc63e4c324",
    "auc_rank_sum_exact": "4b3898891e0b990d",
    "pairwise_energy_sufficient_stats": "893b7c2a85dffc2e",
    "knn_loo_label_accuracy": "7a6d1a5c736b7a73",
    "lsh_band_sensitivity_audit": "5bb5d110a5ff0e46",
    "suffix_lcp_repeat_stats": "4ece341dcdc57dc0",
    "cc_hash_to_min_pointer_jump": "aa8b7dc422f46317",
    "ivf_cell_balance_audit": "f7718b205e8bc715",
    "scd2_temporal_lookup_join": "370e16e2a9dcac68",
    "array_sort_comparator_suite": "93d7ebc82f75efcc",
    "grouping_id_bitmask_report": "e8ae5c9f2e812422",
    "subject_access_export": "56f1c62a7b853074",
    "kmeanspp_d2_seeding_derandomized": "b922a903ed9978b3",
    "multi_probe_lsh_recall_certified": "945cf71d68c40166",
    "repeated_span_cut_plan": "cbc6dd18a4cb2047",
    "setsim_prefix_filter_join": "6823e180f3263049",
    "bucketed_colocated_join_audit": "8cb0e5b3f1a47b64",
    "sentence_chunk_greedy_fold": "c4b7821ecbc71580",
    "bloom_prefilter_fpr_certified": "d1a52123a6cc43e7",
    "agg_breadth_suite": "2d407d6fe0f94fac",
    "score_calibration_bins": "2b3500da4ffea2a9",
    "dataframe_transpose_suite": "ac6773dfb24f75aa",
    "melt_api_reshape": "2eb4c631a9f505aa",
    "string_format_suite": "3315d528f456063e",
    "order_by_all_offset_sql": "34e16628d75c4237",
    "execute_immediate_sql": "8572e93677dfdf35",
    "nth_value_window_suite": "ec9fcc56a91c92d3",
    "interarrival_dyadic_histogram": "696a92d8c4d70e4b",
    "ohlc_hourly_bars": "4cd175bcdbed2f04",
    "id_sequence_gap_audit": "f37e2d544b7b54d5",
    "tpch_q12_shipmode_priority": "555374905647550a",
    "tpch_q17_small_quantity_revenue": "eca19a43973812ca",
    "heavy_hitters_misra_gries_certified": "4a91a68db2030cd0",
    "tablesample_repeatable_certified": "f62963521dbba901",
    "zipf_tail_mass_by_source": "e80fe5447d99ecb9",
    "oov_rate_by_source": "3aca6c40517ecad2",
    "mixture_epoch_repeat_planner": "ca1d8987e84e927e",
    "quality_threshold_sweep_confusion": "6440dd099d1e5ae8",
    "feature_store_pit_join": "932a8ce8a1b9aedf",
    "token_pmi_top_pairs": "be27e44bfb226b62",
    "chi_square_uniformity_by_type": "44c2d7edd3ab5a95",
    "ivm_aggregate_delta_merge": "9c113d9d0561a8cc",
    "embedding_prefix_energy": "c7e15e219bab7d54",
    "hard_negative_mining_topk": "57e23eb31171729d",
    "doc_span_interval_union": "922c55fcaf53eb61",
    "global_row_index_two_level": "22d7f7d3f4c3b298",
    "dq_expectation_audit": "d5328456f5bda217",
    "right_to_erasure_cascade": "25c1a80ee34de7fa",
    "curriculum_token_budget_phases": "857534e1da4557ad",
    "avro_codec_roundtrip_batch": "f51091054c8c03e5",
    "interval_overlap_join_buckets": "29c3dbb6dfa9e4ab",
    "lang_id_confusion_matrix": "af23ce9fef4e9566",
    "aqe_runtime_broadcast_conversion": "20b84a9f48dbaa51",
    "time_to_convert_dyadic": "68bc92b4b3f57532",
    "neyman_allocation_plan": "f38e06ecdebcffce",
    "rolling_24h_sliding_distinct": "604774e8076065a5",
    "embedding_norm_hof_vs_explode": "99378a6c5cb4a22d",
    "in_session_conversion_rate": "e34f81fb2971cdc2",
    "labelprop_communities_2iter": "fb24b770a27bc077",
    "blocklist_term_scan": "2a57a89ecbdd8ddb",
    "split_leakage_near_dup_audit": "3961da710c049902",
    "hof_suite2": "e12d27e30a9c333b",
    "struct_field_mutation_suite": "fed2adf63c390e80",
    "named_window_clause_sql": "ddf7d96ea2d63853",
    "like_quantifier_suite": "cd29421a06b11e97",
    "text_format_roundtrip": "d9c5cbc683f6cff3",
    "map_hof_suite2": "1837a7557aa581f1",
    "union_missing_columns_suite": "4ffe5546967d96c4",
    "lateral_column_alias_sql": "99dba9913302554d",
    "null_aware_antijoin_notin": "4b3bc4bf443de0d0",
    "using_join_full_coalesce": "afce1d11b533fb39",
    "correlated_nonequi_exists": "a9f6236207852537",
    "regr_agg_suite": "75e6a75a558bbcbd",
    "bpe_pair_merge_candidates": "9fdd92620f27e794",
    "ngram_novelty_growth": "a8c89cb182e8b3fb",
    "streaming_file_sink_partitioned": "8df2bbb845622abd",
    "hidden_file_metadata_scan": "cca0495a50b8f620",
    "udtf_table_arg_partition_by": "c736274d6b6af7f8",
    "session_window_dynamic_gap": "cf6913403a3b2468",
    "pca_power_iteration_1d": "3a3ddf0d1f0f58f8",
    "running_distinct_users": "da916cdae660ef9f",
    "struct_equality_join": "0c7a100576f186a7",
    "semdedup_quantized_prune": "0e080158c9280831",
    "asof_nearest_join": "410f2c5981c27fdf",
    "mad_robust_outliers": "5889abcdb9741330",
    "dupgraph_triangle_count": "64ebda33b806fda9",
    "vocab_dyadic_rank_mass": "161980b73fa49f76",
    "kcore_dupgraph_3peel": "be5db8809fd0a7b0",
    "binaryfile_source_scan": "8fa11e2520f9a3ff",
    "csv_quoted_multiline_roundtrip": "aeb86a3b9b2b9b8d",
    "span_corruption_mask_plan": "792e368cf262a5cd",
    "length_bucketed_batching": "78d287e81cca2b5b",
    "kmeans_lloyd_step_quantized": "dd1d6ae684227195",
    "bitmap_distinct_functions": "e82906bd0dcc6d86",
    "window_group_limit_pushdown": "f40f7aa023f3cf4d",
    "rolling_correlation_24h": "e4892fdfb25738c2",
    "clustered_write_sorted_runs": "eb878b3f195d4100",
    "dedup_survivorship_merge": "ff1d5646f8678130",
    "video_mjpeg_frame_extract": "1e1a4237ed058ba6",
    "exact_substring_spans": "73a06e2f026626fd",
    "ngram_lm_familiarity": "7caaaa606abf973f",
    "state_store_reader_audit": "2b119cbdd85dce7b",
    "python_datasource_stream_sink_roundtrip": "2d1c3944b8a118fb",
    "mapinarrow_token_stats": "33f3bdedc202ab95",
    "bm25_odds_retrieval": "7f2f3adc4865241a",
    "interval_coverage_sweep": "ff77416664403535",
    "countmin_heavy_hitters": "0f6ec0c409f45edd",
    "merkle_range_digest": "85b072788be4399c",
    "acf_lag_autocorr": "555f7393da610ffd",
    "pareto_frontier_skyline": "151c1a53ae3e25b3",
    "geo_nearest_site_join": "8e8f8d1a80499309",
    "geohash_bucket_stats": "cd610bc64ddcaba5",
    "python_datasource_filter_pushdown": "c3d61c324c5b21c6",
    "benford_leading_digit": "05ee82eb2d29e1f7",
    "peak_concurrency_sweep": "4340c847a0aa2f9e",
    "weighted_median_grouped": "0436c235b21151ef",
    "binned_ks_statistic": "80be893fb67f2634",
    "gini_concentration_by_type": "adf49c8d1fe07858",
    "markov_transition_matrix": "776077a7e2ed8817",
    "udtf_dynamic_schema_analyze": "1a12af3706eac998",
    "arrow_scalar_udf_suite": "38a5eb500afc1de3",
    "cogroup_applyinpandas_reconcile": "9f87f084efb09b24",
    "applyinarrow_group_stats": "2866ca10fc0a0d0a",
    "conversation_render_budget": "667c166d4f5a13c1",
    "global_peak_concurrency": "f0d5c65b5d9be495",
    "json_corrupt_record_handling": "71bd5801e8cce158",
    "ols_trend_by_key": "cf8e217fcce687d3",
    "rolling_median_smooth": "1dd8a0e47fadc229",
    "grouped_gk_quantiles_certified": "8fdcbd8a5191e763",
    "quantile_normalization_cross_source": "6f93fff355b05122",
    "minhash_estimate_error_certified": "62c81e3bc5336091",
    "decontam_max_span": "590a3965c4d8ce82",
    "pack_composition_audit": "f7fcf3e53938e989",
    "collision_probability_suite": "2203d90b0f945973",
    "fano_burstiness_by_type": "5734d3f242900abe",
    "pagerank_dupgraph_3iter": "ecb69fcba05d6edf",
    "hll_union_reaggregate": "4a0e9ccc0fd43d1e",
    "series_shape_signature_buckets": "f37875b41dda93f4",
    "python_datasource_sink_append_audit": "8771f8dc3ec92ec8",
    "similarity_topk_cosine": "39a10ce9797e015e",
    "map_function_suite": "e09b62e1890ef483",
    "array_algebra_suite": "39ab56f89f11fa47",
    "regexp_suite2": "4b589577a79a4216",
    "observe_metrics_suite": "fe0ff54e7f6b9f46",
    "python_datasource_geojson_scan": "ea634b9dbe41f465",
    "python_datasource_sink_roundtrip": "fde49e6c39abf651",
    "inline_struct_explode": "7672ed2280740b8e",
    "string_suite2": "03e79cf64ccc25d4",
    "bitwise_suite": "03fd3f5bca48c68f",
    "width_bucket_histogram": "c0b05c3eb9473fd7",
    "ratio_to_report_share": "a770a3f58fed141f",
    "token_length_log_histogram": "1330e4f85cf51d77",
    "pivot_dynamic_two_pass": "88775852ba553498",
    "csv_line_codec_suite": "e7d5cf868d354183",
    "checksum_encoding_suite": "11a3a3407957e831",
    "sql_scripting_variables": "e8b6a8c4cdefd3f1",
    "identifier_parameterized_query": "cd8a34308d064ad8",
    "pipe_syntax_suite": "250b5b2c3c401814",
    "sql_table_function_lateral": "27f9b2b7ddb6f54f",
    "json_roundtrip_suite": "86a75de74e49ab71",
    "partition_overwrite_backfill": "6bb4bb7da8fcb53b",
    "schema_evolution_mergeschema": "02c217b579075502",
    "orc_roundtrip_scan": "bfa09f8640cbf1a2",
    "aqe_skew_join_split": "e734ee2f67c53626",
    "inmemory_cache_scan": "ef198f68fad9d05b",
    "temperature_mixture_quota": "73075c1cf62dc081",
    "pandas_api_on_spark_agg": "29c56b4b1b441971",
    "stat_crosstab_matrix": "9c9c8c8b8f143636",
    "luhn_pii_check": "8ac6fc30bc4e3164",
    "array_mutation_suite": "5950b6999b3f1a49",
    "try_function_suite2": "28750d09845f83aa",
    "char_octet_length_suite": "26ae7007543b04a4",
    "bucketed_orders_lineitem_join": "99438d6e1bd2e71c",
    "tpch_q2_min_cost_supplier": "85a931527c23405d",
    "tpch_q20_potential_promotion": "b92b2fad59345353",
    "dynamic_partition_pruning_join": "6b44538e3a70cc4a",
    "scd2_dimension_build": "de30e6cc9c13d79e",
    "table_diff_reconciliation": "2c354a56d4a542f0",
    "merge_on_read_upsert": "80c2bbf7b2049697",
    "lateral_topn_per_key": "45dff38b8846217a",
    "sql_macro_suite": "ea4bde3947b1e0cb",
    "variant_extract_suite": "0a6f2f6dbe59285b",
    "collation_group_suite": "51b6dc9e43385c4e",
    "groupby_all_unpivot_sql": "d50a3664338dba96",
    "explode_outer_semantics": "14a1f64c262bec01",
    "interval_datetime_suite": "0bd984386baaa3d9",
    "sequence_densify_per_key": "55587a05e596ebcf",
    "hll_bitmap_sketch_suite": "6e667374256c7f82",
    "ema_dyadic_decay": "3a1b8789df3ed109",
    "mixture_quota_largest_remainder": "4d0fa720ac926d61",
    "ann_mrr_certified": "9e759722965f51d0",
    "dup_graph_degree_stats": "93e9cb99fb54c5fc",
    "asof_tolerance_join": "4f95708d318963ca",
    "robust_zscore_applyinpandas": "da035965dc00e987",
    "time_weighted_avg": "4fb72d4a3d754ae7",
    "decimal_arithmetic_suite": "f080906e716a37e1",
    "hint_join_strategies": "b50d25ec8d7681e3",
    "hourly_series_pivot_fold": "6012df79024716e8",
    "udtf_chunk_documents": "260467e8f52fb23e",
    "xml_roundtrip_suite": "037466bf9e4254cd",
    "approx_topk_certified": "80830a00a00556e6",
    "hof_function_suite": "9547fa2e0431fc11",
    "json_extract_suite": "4581d317b490362f",
    "posexplode_tokens": "084d6b339deb7286",
    "try_arithmetic_suite": "48e1b76dd34b0607",
    "listagg_ordered": "c42dfc532c008450",
    "filter_clause_agg": "d00c4111112edf96",
    "lag_lead_ignore_nulls": "c5de554241dac685",
    "range_interval_window": "43f1e598fae2d59c",
    "calendar_spine_gapfill": "a8c3493571ebea2f",
    "recursive_cte_closure": "a92da7c3ed10ee73",
    "aqe_coalesce_partitions": "0a60cf9bad706210",
    "bitmap_day_activity": "e7df208b08957f76",
    "topk_per_group_ties": "ea597c12e6dcd8b0",
    "weighted_sample_priority": "138b829ccd9ebcd1",
    "batch_sessionize": "8c26097136687036",
    "setop_suite": "eae179ce1b49a2ab",
    "url_parse_suite": "5f3b3aec56355046",
    "text_normalization_suite": "71c0e51a80d5e2ed",
    "ansi_percentile_suite": "fe58238491e6433f",
    "ivf_recall_certified": "1cf3ca2a92948345",
    "pq_quantization_error": "86c7d59205f6d1c7",
    "dedup_incremental_vs_corpus": "282140c2ef51dd48",
    "dedup_containment": "481a7f427bbba4d8",
    "dedup_cross_source_matrix": "c39e91736f004d47",
    "dedup_keep_best": "877065ddab90b1c9",
    "domain_mixture_resample": "599681a9f19dc80a",
    "partitioned_write_prune": "1423017b20c63fa0",
    "range_layout_scan": "f00c7a3babc6277d",
    "zorder_layout_scan": "6f980ce0831a4345",
    "bloom_semijoin_pushdown": "4b15a831b77b9951",
    "ann_recall_certified": "a46c24dc0d2afee0",
    "doc_chunk_stride": "160123a3a414bada",
    "tfidf_top_terms": "567d4e95754bbb4c",
    "funnel_conversion": "2d2f0c6f917743c9",
    "cohort_retention": "224402cd27db5072",
    "winsorized_stats": "9bb616eb63404a09",
    "rolling_7day_active_users": "d9a4f04ed5aaa18e",
    "quality_cdf_normalize": "d53a9ccd3fdb56c6",
    "group_exact_k_sample": "575d73ef00aa56f8",
    "analyze_column_stats": "2a9fef378d3187d3",
    "nullsafe_join_agg": "62c314988a240edb",
    "multimodal_frame_sample": "8ed576cb67ec3f98",
    "multimodal_resize": "669c1f8e027a62b3",
    "multimodal_feature_extract": "2de2937d97b3b4d8",
    "tpch_q9_product_profit": "5f678cc3b755e07f",
    "tpch_q16_supplier_part_counts": "8c20945ecf349181",
    "tpch_q11_important_stock": "f7918ae47048c74d",
    "dedup_embedding_cosine": "0b1b9c4bdd070ec4",
    "similarity_ivf_topk": "80152dadf9db64e5",
    "decontam_ngram_overlap": "01f1694c5aee338f",
    "deterministic_corpus_shuffle": "9457a847934fd5c2",
    "tpch_q8_market_share": "d3f952ad6bf41056",
    "tpch_q21_waiting_suppliers": "1f556ef2ebead709",
    "cdc_snapshot_apply": "bbcd3d0d9c1385c9",
    "weather_window_agg_sql": "10e3d40e4c64ae71",
    "ksql_windowed_table": "64684741c0b2fe4e",
    "dedup_exact": "578baa5e26ec8c6b",
    "dedup_simhash": "1108d65a51aad4ab",
    "dedup_clusters": "374bba47445fe828",
    "dedup_ngram_jaccard": "5c3935144f766d4a",
    "tpch_q18_large_orders": "7f44c9dbd30c0cdf",
    "tpch_q19_disjunctive_predicates": "d2fc0f582dfcdd52",
    "tpch_q13_customer_distribution": "34db0404576d76bc",
    "tpch_q15_top_supplier": "35a9bd732aac48c5",
    "hopping_window_agg": "d3398c77535f24f7",
    "rank_function_suite": "fb4148baa60ed348",
    "null_semantics_suite": "823041f910e7ac52",
    "grouping_sets_report": "fe04e9691ec10b4d",
    "linear_interpolation_gapfill": "050d076993da4ecd",
    "pii_scrub_stats": "0de4676ab6e22b39",
    "sequence_packing_manifest": "f1f5e1b418da0dcd",
    "passage_dup_stats": "bf1b4b80d0e66322",
    "fuzzy_dedup_levenshtein": "5183024505069499",
    "grouped_array_collect": "04eb26ed4fe8301b",
    "latency_nearest_rank_percentiles": "9282422b9e90fbb4",
    "approx_count_distinct": "d67fab316c388d17",
    "similarity_ann_lsh": "f77760fd455872fc",
    "scalar_function_suite": "91f0c9ccaa1809b6",
    "tpch_q1_pricing_summary": "f54c3968bfa4f348",
    "curation_pipeline": "22b7a6831f8796fb",
    "pivot_hourly_by_type": "2e1792039f38f357",
    "unpivot_measure_summary": "67586f8f74675978",
    "correlated_above_avg_orders": "c93beabc2a862670",
    "tpch_q10_returned_items": "d84d82fc9ebde6b5",
    "tpch_q4_semijoin_priority": "f5d31001bea9a4b8",
    "tpch_q7_volume_shipping": "12ca103870c73bc9",
    "tpch_q14_promo_revenue": "8c11c2bc02052242",
    "tpch_q22_antijoin_segments": "4960ba7b1a4e9e1d",
    "approx_quantiles_bounded": "54ed7efb93b06359",
    "session_window_agg": "958aeb73f54fc5bc",
    "latency_percentiles": "d1aad1de2b6302ed",
    "value_counts": "77901eddede1bfe4",
    "station_enrichment_join": "e6ed55ba88830f74",
    "group_by_sum_consumption": "884571c07dcfb90c",
    "validity_filter": "058154a455290ee4",
    "numeric_projection_summary": "e7ca50f8469d3141",
    "count_distinct_stations": "48371d26e62bd910",
    "latest_by_rownumber": "780a1e09f354d759",
    "weather_window_agg_by_station": "21fe01649bff0da8",
    "latest_by_offset": "7e309fbf1a7caa32",
    "argmax_station": "1a117b3f0ee6725b",
    "tpch_q6_selective_scan": "4fabef06b3159167",
    "tpch_q5_join_chain": "af4119ec48874759",
    "text_fingerprint": "73475d3a3e413a14",
    "dirty_data_parsing": "dd8d04068d76f6ec",
    "time_rollup_hierarchy": "89cc8cd950222e2f",
    "region_zone_lookup": "0b884f1e27a795aa",
    "text_lang_id": "43d81e9a93902bda",
    "top_k_values": "d386676c518380cd",
    "correlation_matrix": "e044c5edb25f8831",
    "price_prediction_pipeline": "22b5465142750bfa",
    "flag_derivation_dropna": "5975c2e85d92f56b",
    "window_function_suite": "4af6a3771eb6902e",
    "kmv_distinct_sketch": "63dbb472efa588b6",
    "embedding_quantization": "ae3a2207f42032f8",
    "skewed_agg_salted": "72a35cfc5c0d93c7",
    "skewed_join_replicated": "07ca83a5bed97cf9",
    "cube_rollup_report": "a6b4dfb9488990d5",
    "vocab_top_tokens": "13fcc84ed6eea3fd",
    "datetime_parse_suite": "8ed31ca6b8b2125d",
    "text_token_counts": "235f83939aa24c03",
    "stratified_sample": "6d7192037e5e3fc1",
    "hash_split_assignment": "3347ccd4ebc979d0",
    "text_repetition_ratio": "8463170c6768af92",
    "union_streams_agg": "61e8fd3254b80609",
    "asof_join_latest_view": "f16c98520af8f5b5",
    "per_station_accumulation": "05cc7a087ecf6321",
    "range_join_shipment_windows": "758fb58d4bbd52a8",
    "text_quality_scores": "c9148936e55f74b7",
}
# Shared-infrastructure pin (ADVICE r04, tools/tail_hash.py:68 carve-out
# gap): loader/session semantics every TAIL query flows through. A change
# here voids ALL TAIL evidence at once — run the full oracle sweep
# (`python tools/check_correctness.py`) green, then regenerate with
# `python tools/tail_hash.py`.
INFRA_SOURCE_SHA256 = "502678ab55ec1ae0"


def test_shared_infra_unchanged_since_green_verdict():
    """catalog._normalize_nanos / load_table / ensure_session_confs /
    SessionConfig.to_conf feed every TAIL query but are excluded from the
    per-query pins (cascade-noise carve-out). Pin them separately so a
    loader-semantics change still forces a re-grade."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from tail_hash import infra_fingerprint

    assert infra_fingerprint() == INFRA_SOURCE_SHA256, (
        "shared loader/session semantics changed since TAIL verdicts were "
        "recorded — run the full oracle sweep, then regenerate pins"
    )


def test_tail_source_unchanged_since_green_verdict():
    """Rotation-policy enforcement (VERDICT r03 item 2): a query may sit
    in the ungraded TAIL only while the source that earned its recorded
    green verdict is unchanged."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from tail_hash import current_fingerprints

    got = current_fingerprints()
    assert set(got) == set(TAIL_SOURCE_SHA256), (
        "TAIL changed — regenerate pins with `python tools/tail_hash.py` "
        "after verifying every remaining TAIL entry has a green verdict"
    )
    stale = {
        n: (TAIL_SOURCE_SHA256[n], got[n])
        for n in got
        if got[n] != TAIL_SOURCE_SHA256[n]
    }
    assert not stale, (
        f"TAIL queries whose implementation changed since their green "
        f"verdict: {sorted(stale)} — rotate them into the head for "
        f"re-grading"
    )


def test_container_type_gate_rejects_planted_array_column(spark):
    """The r04/r08 failure class: a raw array/map/struct output column
    crashes the driver's hash comparator (pandas `unhashable type`).
    tools/check_correctness.py now fails any head or staged query whose
    result schema carries one — this test pins that the gate actually
    fires on planted container columns of each kind, and stays silent on
    the serialized boundary form (array_join / to_json)."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_correctness import container_columns

    from pyspark.sql import functions as F

    base = spark.range(3)
    planted = base.select(
        "id",
        F.array(F.lit("a"), F.lit("b")).alias("arr"),
        F.create_map(F.lit("k"), F.lit(1)).alias("m"),
        F.struct(F.lit(1).alias("x")).alias("st"),
    )
    flagged = container_columns(planted)
    assert len(flagged) == 3 and all(
        f.split(":")[0] in {"arr", "m", "st"} for f in flagged
    ), flagged

    serialized = planted.select(
        "id",
        F.array_join("arr", "|").alias("arr"),
        F.to_json("m").alias("m"),
        F.to_json("st").alias("st"),
    )
    assert container_columns(serialized) == []


def test_entry_is_registered_flagship(spark):
    df = entrymod.entry(spark)
    assert set(df.columns) == {
        "window_start", "window_end", "event_type", "avg_value",
        "min_value", "max_value", "message_count", "min_producer_ts",
    }


def test_cluster_profile_conf():
    cfg = cluster_profile()
    conf = cfg.to_conf()
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.shuffle.partitions"] == "2000"
    assert "RocksDBStateStoreProvider" in conf[
        "spark.sql.streaming.stateStore.providerClass"
    ]
    override = cluster_profile(shuffle_partitions=500)
    assert override.to_conf()["spark.sql.shuffle.partitions"] == "500"
