"""Generate docs/PLANS.md: the formatted physical plan of each headline
query — the `.explain("formatted")` audit artifact (reviewable evidence
that pushdown/pruning/broadcast/partial-agg hold). Run:
python tools/explain_audit.py"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from sparkksqldbbenchmark_spark.session import SessionConfig, get_spark

AUDIT = [
    "weather_window_agg",
    "union_streams_agg",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_join_chain",
    "tpch_q6_selective_scan",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "similarity_ann_lsh",
    "similarity_ivf_topk",
    "multiway_timejoin_ffill",
    "top_k_values",
    "streaming_update_mode_final",
    "curation_pipeline",
    "vocab_top_tokens",
    "asof_join_latest_view",
    "range_join_shipment_windows",
    "latency_nearest_rank_percentiles",
    "time_rollup_hierarchy",
    "kmv_distinct_sketch",
    "pii_scrub_stats",
    "stratified_sample",
    "hash_split_assignment",
    "dedup_keep_best",
    "window_function_suite",
    "embedding_quantization",
    "cube_rollup_report",
    "tpch_q10_returned_items",
    "skewed_agg_salted",
    "skewed_join_replicated",
    "sequence_packing",
    "decontam_ngram_overlap",
    "similarity_topk_cosine",
    "tpch_q8_market_share",
    "tpch_q13_customer_distribution",
    "tpch_q15_top_supplier",
    "hopping_window_agg",
    "dedup_incremental_vs_corpus",
    "bucketed_orders_lineitem_join",
    "partitioned_write_prune",
    "range_layout_scan",
    "dynamic_partition_pruning_join",
    "deterministic_corpus_shuffle",
    "multimodal_decode_roundtrip",
]

# round-7 graduated rows with plan-shape claims worth pinning
# (plans/round7_queries.py)
ROUND7_AUDIT = [
    "batch_sessionize",
    "range_interval_window",
    "recursive_cte_closure",
    "table_diff_reconciliation",
    "merge_on_read_upsert",
    "bitmap_day_activity",
    "weighted_sample_priority",
    "hof_function_suite",
    "pq_quantization_error",
]

# round-6 graduated rows with plan-shape claims worth pinning
# (plans/round6_queries.py)
ROUND6_AUDIT = [
    "zorder_layout_scan",
    "bloom_semijoin_pushdown",
    "ann_recall_certified",
    "dedup_cross_source_matrix",
    "scd2_dimension_build",
    "rolling_7day_active_users",
    "group_exact_k_sample",
    "analyze_column_stats",
    "nullsafe_join_agg",
    "cdc_snapshot_apply",
]


# round-8 graduated rows with plan-shape claims worth pinning
# (plans/round8_queries.py)
ROUND8_AUDIT = [
    "lateral_topn_per_key",
    "sequence_densify_per_key",
    "ema_dyadic_decay",
    "time_weighted_avg",
    "robust_zscore_applyinpandas",
    "asof_tolerance_join",
    "dup_graph_degree_stats",
    "hint_join_strategies",
    "streaming_session_window_agg",
    "hourly_series_pivot_fold",
    "python_datasource_geojson_scan",
    "udtf_chunk_documents",
]

# round-9/10 graduated rows with plan-shape claims worth pinning
ROUND10_AUDIT = [
    "pivot_dynamic_two_pass",
    "video_mjpeg_frame_extract",
    "sql_table_function_lateral",
    "pipe_syntax_suite",
    "ngram_lm_familiarity",
    "exact_substring_spans",
    "countmin_heavy_hitters",
    "pagerank_dupgraph_3iter",
    "quantile_normalization_cross_source",
    "minhash_estimate_error_certified",
    "bm25_odds_retrieval",
    "global_peak_concurrency",
    "geo_nearest_site_join",
    "mapinarrow_token_stats",
]

# round-12 graduates with plan-shape claims (graduated round 13 into
# plans/round12_queries.py; audited via the registry)
ROUND12_AUDIT = [
    "tpch_q17_small_quantity_revenue",  # exchange reuse + broadcast dim
    "interval_overlap_join_buckets",  # bucket equi join, no BNL
    "hard_negative_mining_topk",  # broadcast anchors, one corpus scan
    "global_row_index_two_level",  # no global sort
    "curriculum_token_budget_phases",  # two-level prefix sum
    "ivm_aggregate_delta_merge",  # partials merge, no rescan
    "token_pmi_top_pairs",  # vocab-bounded self-join
    "aqe_runtime_broadcast_conversion",  # runtime SMJ->BHJ
    "id_sequence_gap_audit",  # chunked windows (r11 holdback, reworked)
    "labelprop_communities_2iter",  # iterative join+argmax, checkpointed
    "rolling_24h_sliding_distinct",  # bounded pair explode, no self-join
    "split_leakage_near_dup_audit",  # LSH-bounded pair frame
]

# round-13 cohort rows with plan-shape claims, graduated round 14
# (plans/round13_queries.py) — pinned from the registry now
ROUND13_AUDIT = [
    "lorenz_concentration_deciles",  # user-bounded ranking window
    "blocklist_aho_corasick_stage",  # mapInPandas stage, no shuffle
    "rfm_segment_counts",  # 3x leveled rank, no global sort
    "suffix_lcp_repeat_stats",  # bucketed suffix sort, bounded boundary
    "cc_hash_to_min_pointer_jump",  # doubling CC, checkpointed rounds
    "equi_depth_partition_bounds",  # domain-bounded histogram plan
    "scd2_temporal_lookup_join",  # asof union-tag, one exchange
    "knn_loo_label_accuracy",  # broadcast probes, codegen dots
    "auc_rank_sum_exact",  # leveled rank + midrank algebra
    "multi_probe_lsh_recall_certified",  # probe-cell equi-join, no BNL on corpus
    "kmeanspp_d2_seeding_derandomized",  # per-step aggregate+broadcast
    "repeated_span_cut_plan",  # pinned merge join-back, doc-grain islands
    "setsim_prefix_filter_join",  # prefix postings equi-join, pinned merge verify
    "bucketed_colocated_join_audit",  # zero pre-join exchanges (also in-query asserted)
    "sentence_chunk_greedy_fold",  # pure scan-side HOF fold, zero exchanges
    "bloom_prefilter_fpr_certified",  # 128-word bloom frame broadcast to fact scan
]

# round-14 cohort rows with plan-shape claims, graduated round 15
# (plans/round14_queries.py) — pinned from the registry now
ROUND14_AUDIT = [
    "kmv_sketch_union_merge_certified",  # two-level k-min, bounded finals
    "skyline_pareto_frontier",  # bounded (brand,size) cells, range-frame sweep
    "local_clustering_coefficient",  # degree-class density, bounded pair frame
    "farthest_point_init_quantized",  # per-step aggregate+broadcast twin
    "gopher_repetition_rules",  # scan-side sentence folds, doc-local bigram shuffle
    "waterfill_budget_allocation",  # bounded-frame level algebra, one row-grain agg
    "graph_2hop_degree_sum",  # two hash exchanges, one Pregel superstep
    "decontam_bloom_prefilter_certified",  # <=128-row bloom broadcast to test scan
    "bbit_minwise_estimate_on_candidates",  # scan-side k=64 fold, LSH-bounded pairs
    "jl_projection_distance_certified",  # plan-literal matrix, zero hashing
    "rendezvous_shard_assignment_certified",  # scan-side HRW argmax fold
]

# round-15 slot-filler head rows with plan-shape claims
# (plans/round15_queries.py) — pinned from the registry
ROUND15_AUDIT = [
    "gk_summary_union_merge_certified",  # sharded summaries, bounded merge window, broadcast cert
    "psi_drift_bins_exact",  # bounded bin grid, 1-row midpoint broadcast
]

# round-16 head rows with plan-shape claims (plans/round16_queries.py:
# the graduated round-15 cohort keeps its staging-era pins, plus the
# round-16 slot-fillers and the re-planned successive-halving row)
ROUND16_AUDIT = [
    "graph_pregel_superstep2",  # two node-grain gathers, no edge-grain blowup
    "curation_pipeline_v3_composed",  # bloom broadcast + flagged-sliver exact join
    "bigram_draft_acceptance_rate",  # two shuffles: bigram agg + vocab-grain join
    "prefix_cache_hit_mass",  # scan-side slice, group-grain aggregate
    "join_cardinality_histogram_estimate",  # bounded histograms vs exact join
    "pav_isotonic_calibration_binned",  # 20-bin bounded pair/triple frames
    "bootstrap_ci_daily_mean",  # day-grain collapse, bounded resample frame
    "fagin_ta_topk_certified",  # TakeOrderedAndProject accesses, bounded rescore
    "cdc_chunk_dedup_mass",  # scan-side chunk fold, collapsing aggregates
    "err_exact_dyadic",  # bounded-list integer fold, no position self-join
    "reciprocal_rank_fusion_exact",  # bounded slice before any ranking window
    "conformal_interval_coverage_exact",  # per-group calib window, scalar frames broadcast
    "mmr_diversified_top3_exact",  # bounded candidate slice before pairwise sim
    "successive_halving_plan",  # lazy unrolled rungs, bounded-histogram two-level rank
    "l_diversity_risk_audit",  # bounded QI-cell aggregate, 7-row rollup
    "join_cardinality_mg_sidecar_estimate",  # bounded hot set + cold histogram
    "early_stopping_patience_plan",  # run-partitioned windows, bounded rollup
    "dow_seasonal_median_residuals",  # bounded (type x dow) order statistics
    "brier_reliability_bins_exact",  # 10-bin collapse, 1-row base-rate scalar
    "mmr_diversified_topk_weighted",  # generated rounds, bounded candidate slice
    "curation_pipeline_v4_composed",  # PAV 20-bin keep stage + v3 chain
]

# later rows with plan-shape claims worth pinning
LATE_AUDIT = [
    "supervised_discretization_merge_sweep",  # bounded bin frame, pair test, island prefix-sum
    "seasonal_cusum_residual_flags",  # bounded dow medians broadcast, per-type windows
    "rrf_weighted_fusion_exact",  # bounded slice + 1-row weight scalar
    "pareto_knee_maxcross",  # domain-bounded cells, broadcast endpoints
    "context_length_policy_sweep",  # 3-row policy frame, per-policy rank windows
    "density_greedy_budget_certified",  # one global rank + scalar folds
    "sortkey_delta_compression_estimate",  # four ordered passes, 4-row rollup
    "dp_sensitivity_noise_budget",  # (type, user) contribution grain, bounded rollup
    "theil_sen_slope_exact",  # bounded day frame before the pair join
    "team_draft_interleave_preference",  # bounded slice, unrolled draft rounds
    "benjamini_hochberg_fdr_stepup",  # bounded cell grid, ordering window, scalar cutoff
    "km_hazard_table_exact",  # per-user span collapse, bounded day-grid join
    "skew_salt_plan_from_histogram",  # per-key count grain, 1-row total broadcast
    "benjamini_yekutieli_fdr_exact",  # bounded cell grid, harmonic scalar, step-up window
    "mcnemar_paired_exact",  # paired contingency collapse, bounded cells
    "kruskal_wallis_rank_exact",  # doubled-midrank windows, 1-row total scalar
    "wasserstein_1d_histogram_exact",  # bounded histogram grid, prefix-sum transport
    "capture_recapture_chapman_estimate",  # two-list collapse, bounded estimator frame
    "allen_interval_relation_matrix",  # per-key interval pairs, bounded 13-relation census
    "streaming_window_exact_median",  # watermarked tumbling agg, exact in-window median
    "winnowing_fingerprint_density_certified",  # gram-grain explode, per-doc bounded window
    "edit1_neighborhood_join_complete",  # deletion-signature equi-join, candidate-only verify
    "bpe_merge_supersteps_greedy",  # per-word windows, 1-row argmax broadcast per step
    "seasonal_theil_sen_residual_slope",  # bounded day frame, 7-row median broadcast
    "team_draft_interleave_k6_generated",  # bounded slice, loop-generated draft rounds
    "mmr_lambda_sweep_learned",  # shared sim frame, per-lambda bounded argmax rounds
    "curation_pipeline_v5_composed",  # v4 stages + doc-grain density rank window
]


def main() -> None:
    from tools._scratch import activate

    activate()
    spark = get_spark(SessionConfig(shuffle_partitions=8, app_name="audit"))
    queries = entrymod.queries()
    out = [
        "# PLANS — physical-plan audit (generated by tools/explain_audit.py)",
        "",
        "Formatted plans at sf0.01. What to look for: `PushedFilters` on",
        "scans, pruned `ReadSchema`, `BroadcastHashJoin` on dimension",
        "joins, paired partial/final `HashAggregate`, `TakeOrderedAndProject`",
        "for top-k, and no `CartesianProduct` anywhere.",
        "",
    ]
    names = AUDIT + ROUND6_AUDIT + ROUND7_AUDIT + ROUND8_AUDIT + ROUND10_AUDIT + ROUND12_AUDIT + ROUND13_AUDIT + ROUND14_AUDIT + ROUND15_AUDIT + ROUND16_AUDIT
    names += [n for n in LATE_AUDIT if n not in names]
    for name in names:
        fn = queries[name]
        df = fn(spark, "/root/testdata/sf0.01")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")
    with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(names)} plans)")


if __name__ == "__main__":
    main()
