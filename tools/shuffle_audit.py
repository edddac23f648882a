"""Registry-wide shuffle audit: one row per registered query with its
physical-plan exchange/broadcast/cartesian counts at sf0.001, written to
docs/SHUFFLE_AUDIT.md. The one-glance scale story: every shuffle is
either keyed on a uniform id/hash/bucket or single-partition over a
BOUNDED (constant-size) frame, and the only nested-loop joins are
broadcast scalar/centroid scorers.

Run: python tools/shuffle_audit.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from sparkksqldbbenchmark_spark.session import SessionConfig, get_spark

# Queries whose nested-loop joins are bounded by design (broadcast side
# is a scalar aggregate or a constant-K centroid/query table); anything
# else showing a BNL/cartesian fails the audit.
BOUNDED_BNL = {
    "latency_nearest_rank_percentiles",  # 1-row total-count scalar join
    "latency_percentiles",               # same scalar-join shape
    "similarity_ivf_topk",               # n×K broadcast centroid scorer
    "tpch_q11_important_stock",          # 1-row grand-total scalar join
    "winsorized_stats",                  # 2-row percentile-bounds scalar join
    "quality_cdf_normalize",             # bounded-histogram CDF broadcast
    "domain_mixture_resample",           # |sources|-row rate broadcast
    "tfidf_top_terms",                   # 1-row n_sources scalar join
    "funnel_conversion",                 # three 1-row funnel-count scalars
    "rolling_7day_active_users",         # 1-row date-bounds scalar join
    "table_diff_reconciliation",         # 1-row cut-threshold scalar join
    "merge_on_read_upsert",              # same 1-row cut broadcast
    "bitmap_day_activity",               # 1-row min-date scalar join
    "calendar_spine_gapfill",            # 1-row date-bounds scalar join
    "ivf_recall_certified",              # n×K broadcast centroid scorer
    "bm25_odds_retrieval",               # 1-row corpus-stats scalar join
    "geo_nearest_site_join",             # n×K broadcast site scorer (K=40)
    "benford_leading_digit",             # 1-row digit-total scalar join
    "hll_union_reaggregate",             # two 1-row sketch/exact scalar joins
    "pca_power_iteration_1d",            # 1-row norm scalar join × 3 iters
    # round-12 staged cohort (every BNL below is a constant-size frame):
    "heavy_hitters_misra_gries_certified",  # 1-row N/threshold scalar join
    "tablesample_repeatable_certified",  # three 1-row certificate scalars
    "mixture_epoch_repeat_planner",      # 1-row budget + 1-row r* scalars
    "quality_threshold_sweep_confusion",  # 10-row threshold frame × histogram
    "token_pmi_top_pairs",               # 1-row n_docs scalar join
    "embedding_prefix_energy",           # 4-row k frame × quantized scan
    "label_inverse_frequency_weights",   # 1-row total/K scalar join
    "dq_expectation_audit",              # 1-row orphan/total scalar joins
    "right_to_erasure_cascade",          # per-table 1-row count scalars
    "curriculum_token_budget_phases",    # 1-row total-chars scalar join
    "compression_codec_matrix",          # per-codec 1-row source scalars
    "neyman_allocation_plan",            # 1-row budget/variance scalars
    "mixture_schedule_manifest",         # 2-row epoch frame × 20-row plan
    # round-13 staged cohort (every BNL below is a constant-size frame):
    "rfm_segment_counts",                # 1-row max-date + 1-row n scalars
    "equi_depth_partition_bounds",       # 16-row targets × bounded histogram
    "class_balanced_undersample",        # 1-row min-class scalar join
    "knn_loo_label_accuracy",            # bounded probe-set broadcast scorer
    "farthest_point_init_quantized",     # 1-row chosen-centroid scalars × k
    "ivf_cell_balance_audit",            # 1-row total scalar join
    "kmeanspp_d2_seeding_derandomized",  # 1-row chosen-centroid scalars × k
    "multi_probe_lsh_recall_certified",  # bounded probe-set broadcast scorer
    "multi_probe_recall_at_k_certified",  # same bounded probe-set shape
    "token_tv_distance_matrix",          # |sources|² bounded pair frame
    "chi2_independence_contingency",     # bounded margins grid (langs×sources)
    "kmv_sketch_union_merge_certified",  # 1-row × 1-row sketch-array cross
    # round-14 staged cohort (every BNL below is a constant-size frame):
    "waterfill_budget_allocation",       # 1-row budget/level scalars × sources
    "data_retention_expiry_plan",        # 1-row max(ts) cutoff broadcast
    "temporal_split_straddle_audit",     # 1-row boundary scalar broadcast
    "curation_pipeline_v2_composed",     # 1-row budget/level scalars (waterfill stage)
    "macro_f1_exact",                    # 3-row class spine broadcast
    # round-15 head + staged cohort (every BNL below is a
    # constant-size frame):
    "psi_drift_bins_exact",              # 1-row epoch-midpoint scalar broadcast
    "curation_pipeline_v3_composed",     # 1-row budget/level scalars (waterfill stage)
    "pav_isotonic_calibration_binned",   # 20-bin frame: range-join pair/triple enumeration
    "shapley_attribution_exact",         # 16-row coalition grid x 4-channel literals
    "bootstrap_ci_daily_mean",           # bounded day frame x 200 resample ids + 1-row CI scalars
    "join_cardinality_histogram_estimate",  # 1-row predicted x 1-row actual scalars
    "rolling_origin_backtest_folds",     # 5-row fold frame x bounded day frame
    "join_cardinality_skew_twin",        # 1-row predicted x 1-row actual scalars
    "streaming_union_multiple_watermarks",  # 1-row day-bound scalar broadcast (fixture build)
    "shapley_sampled_permutations_certified",  # 16-row v frame x 96-row literal perm grid
    "fagin_ta_topk_certified",           # 1-row threshold + 1-row kth-total scalars
    "kmv_intersection_estimate_certified",  # 1-row theta/common/exact scalars
    "successive_halving_plan",           # 1-row rung-population scalar x 3 rungs
    # round-16 slot-fillers (every BNL below is a constant-size frame):
    "join_cardinality_mg_sidecar_estimate",  # 1-row totals scalar x bounded hot set
    "brier_reliability_bins_exact",      # 1-row base-rate scalar broadcast
    "curation_pipeline_v4_composed",     # 20-bin PAV pair range-join + waterfill scalars
    # round-16 staged cohort (every BNL below is a constant-size frame):
    "rrf_weighted_fusion_exact",         # 1-row learned-weights scalar broadcast
    "context_length_policy_sweep",       # 3-row policy frame x token-count scan
    "density_greedy_budget_certified",   # 1-row budget + 1-row next-item scalars
    "benjamini_hochberg_fdr_stepup",     # 1-row m + 1-row k* scalars on the cell grid
    "km_hazard_table_exact",             # calendar-bounded day grid x lifespan frame
    "benjamini_yekutieli_fdr_exact",     # 1-row harmonic-constant + cutoff scalars
    "kruskal_wallis_rank_exact",         # 1-row grand-total scalar
    "wasserstein_1d_histogram_exact",    # 1-row total-mass scalar
    "bpe_merge_supersteps_greedy",       # 1-row argmax-pair + post-step stat scalars
    "mmr_lambda_sweep_learned",          # 1-row msim_0 + learned-pick scalars
    "curation_pipeline_v5_composed",     # v4's PAV pair range-join + 1-row base/budget scalars
    "skew_salt_plan_from_histogram",     # 1-row total scalar x per-key counts
    # round-18 staged cohort (added at r17 open: the mid-build stop left
    # these four off the whitelist; every BNL is a constant-size frame):
    "good_turing_frequency_smoothing",   # 1-row total scalar + r+1 left-broadcast
    "winnowing_fingerprint_dedup_certified",  # 1-row corpus-stat scalars
    "bpe_apply_frozen_merges_tokenization",  # k 1-row best-merge frames folded
    "edit2_double_deletion_join_complete",   # 1-row edge/candidate count scalars
}


def main() -> None:
    from tools._scratch import activate

    activate()
    spark = get_spark(SessionConfig(shuffle_partitions=8, app_name="audit"))
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    failures = []
    audit_items = list(entrymod.queries().items())
    for name, fn in audit_items:
        try:
            plan = (
                fn(spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as exc:  # streaming-only entries etc.
            rows.append((name, "-", "-", "-", f"unplannable: {type(exc).__name__}"))
            continue
        ex = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        single = plan.count("Exchange SinglePartition")
        bnl = int(
            "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
        )
        note = ""
        # Eager-row guard (VERDICT r15 "what's wrong" #4): a query that
        # materializes its result driver-side returns a bare
        # LocalTableScan — a vacuous 0|0|0 audit row that hides the real
        # exchanges from this very audit. Flag it as a failure so no
        # registered/staged row can bypass plan-quality evidence.
        # Exemption (noted, not failed): rows that RUN a streaming query
        # to a memory sink return the materialized sink table by design —
        # the real plan is the micro-batch execution, which the streaming
        # tests and bench replay audit instead. DataFrame.transpose is
        # likewise a driver-materializing API by definition (bounded
        # suite fixture).
        stripped = plan.strip()
        base = name.removeprefix("staged:")
        if stripped.startswith(("LocalTableScan", "*(1) LocalTableScan")) and (
            "Exchange" not in plan and "Scan parquet" not in plan
        ):
            if base.startswith("streaming_") or base in {
                "python_datasource_simple_stream",
                "python_datasource_stream_agg",
                "python_datasource_stream_sink_roundtrip",
                "dataframe_transpose_suite",
            }:
                note = "memory-sink materialization (streaming run; batch plan N/A)"
            else:
                note = "DRIVER-MATERIALIZED (LocalTableScan result)"
                failures.append(name)
        if bnl:
            if name.removeprefix("staged:") in BOUNDED_BNL:
                note = "BNL bounded by design (scalar/centroid broadcast)"
            else:
                note = "UNEXPECTED nested-loop join"
                failures.append(name)
        rows.append((name, ex, single, bnl, note))

    lines = [
        "# SHUFFLE AUDIT — generated by tools/shuffle_audit.py",
        "",
        "Exchange counts per registered query (physical plan at sf0.001).",
        "`hash` = hash/range-partitioned exchanges (keyed on uniform",
        "ids/content hashes/buckets by construction); `single` =",
        "single-partition exchanges (all over constant-size frames:",
        "scalar totals, per-bucket carries, n_buckets-row prefix sums);",
        "`bnl` = nested-loop joins (allowed only for bounded broadcast",
        "scorers, enforced below).",
        "",
        "| query | hash | single | bnl | note |",
        "|---|---|---|---|---|",
    ]
    for name, ex, single, bnl, note in sorted(
        rows, key=lambda r: (isinstance(r[1], str), -(r[1] if isinstance(r[1], int) else 0))
    ):
        lines.append(f"| {name} | {ex} | {single} | {bnl} | {note} |")
    with open(os.path.join(REPO, "docs", "SHUFFLE_AUDIT.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote docs/SHUFFLE_AUDIT.md ({len(rows)} queries)")
    if failures:
        print(f"UNEXPECTED nested-loop joins: {failures}")
        sys.exit(1)


if __name__ == "__main__":
    main()
