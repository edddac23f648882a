"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 (plus the
LLM-pipeline extensions), (spark, sf_dir) → DataFrame.
``oracle_sql()`` — matching DuckDB ANSI SQL for the correctness gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Importing the plan modules populates the registry.
import sparkksqldbbenchmark_spark.plans.reference_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.llm_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.streaming_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.ksql_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.extended_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.curation_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.round6_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.round7_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.round8_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.round9_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.round10_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.round11_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.round12_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.round13_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.round14_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.round15_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.round16_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.round17_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.next_round  # noqa: F401

from sparkksqldbbenchmark_spark.plans.registry import ORACLE, QUERIES

# The driver grades the first 50 entries of queries(), so their order is
# part of the contract: HEAD fixes it. Every other registered query
# follows in registry order. Each query's result is checked against its
# oracle-verified golden record (tests/golden_results.json).
HEAD: tuple[str, ...] = (
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
    "streaming_cdc_latest",
    "streaming_dropdup_within_watermark",
    "streaming_stream_left_join",
    "streaming_stream_full_outer_join",
    "streaming_session_window_agg",
    "streaming_session_window_append",
    "python_datasource_stream_agg",
    "streaming_observe_metrics",
    "streaming_foreachbatch_exactly_once",
    "streaming_dedup_then_window",
    "python_datasource_simple_stream",
    "streaming_checkpoint_restart_resume",
    "streaming_stateful_topk_per_key",
    "streaming_rocksdb_state_store",
    "streaming_union_multiple_watermarks",
    "curation_pipeline_v4_composed",
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


def _ordered_names() -> list[str]:
    return list(HEAD) + [n for n in QUERIES if n not in HEAD]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (the reference's tumbling-window weather aggregation)
    on /root/testdata/sf0.001."""
    return QUERIES["weather_window_agg"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: QUERIES[n] for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {n: ORACLE[n] for n in _ordered_names() if n in ORACLE}
