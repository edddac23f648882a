"""The round-10 cohort (plans/round10_queries.py): each member checked
against its oracle-verified golden record (tests/golden.py).

Cohort-specific invariant tests beyond the value hash live in
tests/test_round10_invariants.py (brute-force second witnesses for the
sweep/sketch/certificate rows).
"""

from __future__ import annotations

import pytest

from tests.golden import assert_matches_golden

import sparkksqldbbenchmark_spark.plans.round10_queries  # noqa: F401
from sparkksqldbbenchmark_spark.plans.registry import (
    ORACLE,
    QUERIES,
)

ROUND10 = (
    "bm25_odds_retrieval",
    "interval_coverage_sweep",
    "countmin_heavy_hitters",
    "merkle_range_digest",
    "acf_lag_autocorr",
    "pareto_frontier_skyline",
    "geo_nearest_site_join",
    "geohash_bucket_stats",
    "python_datasource_filter_pushdown",
    "benford_leading_digit",
    "peak_concurrency_sweep",
    "weighted_median_grouped",
    "binned_ks_statistic",
    "gini_concentration_by_type",
    "markov_transition_matrix",
    "udtf_dynamic_schema_analyze",
    "arrow_scalar_udf_suite",
    "cogroup_applyinpandas_reconcile",
    "applyinarrow_group_stats",
    "conversation_render_budget",
    "global_peak_concurrency",
    "json_corrupt_record_handling",
    "ols_trend_by_key",
    "rolling_median_smooth",
    "grouped_gk_quantiles_certified",
    "quantile_normalization_cross_source",
    "minhash_estimate_error_certified",
    "decontam_max_span",
    "pack_composition_audit",
    "collision_probability_suite",
    "fano_burstiness_by_type",
    "pagerank_dupgraph_3iter",
    "hll_union_reaggregate",
    "series_shape_signature_buckets",
    "python_datasource_sink_append_audit",
)

def test_every_round10_query_registered_with_oracle():
    missing = [n for n in ROUND10 if n not in QUERIES or n not in ORACLE]
    assert not missing, f"round-10 queries missing from registry: {missing}"


@pytest.mark.parametrize("name", sorted(ROUND10))
def test_round10_query_matches_oracle(spark, name):
    assert_matches_golden(spark, "sf0.001", name)
