"""The round-8 cohort (plans/round8_queries.py): each member checked
against its oracle-verified golden record (tests/golden.py), plus the
invariant tests that go beyond what a value hash can express:
quota-apportionment exactness, EMA dyadic-division exactness,
MRR/membership consistency, streaming-session vs batch-session_window
agreement (Spark's own batch operator as an independent second witness),
dup-graph handshake parity, hint plan assertions, append-mode session
closure, decimal canonical-scale rendering, and TWAP-vs-plain-mean
divergence.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from tests.golden import assert_matches_golden

import sparkksqldbbenchmark_spark.plans.round8_queries  # noqa: F401
from sparkksqldbbenchmark_spark.plans.registry import (
    ORACLE,
    QUERIES,
)

ROUND8 = (
    "lateral_topn_per_key",
    "sql_macro_suite",
    "variant_extract_suite",
    "collation_group_suite",
    "groupby_all_unpivot_sql",
    "map_function_suite",
    "array_algebra_suite",
    "explode_outer_semantics",
    "regexp_suite2",
    "interval_datetime_suite",
    "sequence_densify_per_key",
    "hll_bitmap_sketch_suite",
    "ema_dyadic_decay",
    "mixture_quota_largest_remainder",
    "ann_mrr_certified",
    "dup_graph_degree_stats",
    "streaming_stream_full_outer_join",
    "streaming_session_window_agg",
    "asof_tolerance_join",
    "robust_zscore_applyinpandas",
    "time_weighted_avg",
    "decimal_arithmetic_suite",
    "hint_join_strategies",
    "observe_metrics_suite",
    "streaming_session_window_append",
    "hourly_series_pivot_fold",
    "python_datasource_stream_agg",
    "python_datasource_geojson_scan",
    "python_datasource_sink_roundtrip",
    "udtf_chunk_documents",
    "xml_roundtrip_suite",
    "approx_topk_certified",
    "streaming_observe_metrics",
)

def test_every_round8_query_registered_with_oracle():
    missing = [n for n in ROUND8 if n not in QUERIES or n not in ORACLE]
    assert not missing, f"round-8 queries missing from registry: {missing}"


@pytest.mark.parametrize("name", sorted(ROUND8))
def test_round8_query_matches_oracle(spark, name):
    assert_matches_golden(spark, "sf0.001", name)


def test_quota_apportionment_is_exact(spark):
    """sum(final_quota) must equal the budget EXACTLY (the property
    floor-only or independent-rounding allocations violate), every
    extra is 0/1, and quotas are proportional within one unit."""
    rows = QUERIES["mixture_quota_largest_remainder"](spark, SF_DIR).collect()
    assert rows
    assert sum(r.final_quota for r in rows) == 10000
    total = sum(r.n_docs for r in rows)
    for r in rows:
        assert r.extra in (0, 1)
        ideal = 10000 * r.n_docs / total
        assert abs(r.final_quota - ideal) < 1.0, (r.source, ideal)


def test_ema_truncation_tail_is_bounded(spark):
    """The emitted double EMA must be the EXACT dyadic division of the
    integer weighted sum (2^-16 is exactly representable)."""
    rows = QUERIES["ema_dyadic_decay"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.ema == r.ema_weighted / 65536.0  # exact dyadic div


def test_mrr_consistent_with_membership(spark):
    """rr_micro must be positive exactly when the true top-1 neighbor
    is in the ANN list, and bounded by 1e6 (rank 1)."""
    rows = QUERIES["ann_mrr_certified"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        if r.found:
            assert 1000000 // 5 <= r.rr_micro <= 1000000, r
        else:
            assert r.rr_micro == 0, r


def test_streaming_sessions_match_batch_session_window(spark):
    """The streaming session_window complete-mode result must equal the
    BATCH session_window aggregation of the same events — Spark's own
    batch operator is an independent second witness (the oracle is the
    relational gaps-and-islands construction)."""
    from pyspark.sql import functions as F

    from sparkksqldbbenchmark_spark.catalog import load_table

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in QUERIES["streaming_session_window_agg"](
            spark, SF_DIR
        ).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    batch = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in ev.groupBy(
            F.session_window("ts", "30 minutes"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
        .collect()
    }
    assert got == batch


def test_dup_graph_degrees_handshake(spark):
    """Degree histogram must satisfy the handshake lemma: sum of
    degree * n_docs is twice the number of candidate pairs."""
    from pyspark.sql import functions as F

    from sparkksqldbbenchmark_spark.catalog import load_table
    from sparkksqldbbenchmark_spark.llm.dedup import lsh_banded_buckets

    rows = QUERIES["dup_graph_degree_stats"](spark, SF_DIR).collect()
    assert rows
    docs = load_table(spark, SF_DIR, "documents")
    _, buckets = lsh_banded_buckets(docs, "text", "doc_id")
    a = buckets.select(
        F.col("doc_id").alias("doc_a"), "band_idx", "bh"
    )
    b = buckets.select(
        F.col("doc_id").alias("doc_b"), "band_idx", "bh"
    )
    n_pairs = (
        a.join(b, ["band_idx", "bh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .count()
    )
    assert sum(r.degree * r.n_docs for r in rows) == 2 * n_pairs


def test_hint_strategies_all_planned(spark):
    """The hint row's in-query assertions must hold (each hint selects
    its operator and all agree) — running it IS the test; also check
    the returned frame is the broadcast variant."""
    df = QUERIES["hint_join_strategies"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_session_append_is_closed_subset_of_complete(spark):
    """Append-mode watermarked sessions must be a SUBSET of the
    complete-mode (batch-equal) session set, and every emitted session
    must be provably closed: session_end < max(ts) - 2h."""
    from pyspark.sql import functions as F

    from sparkksqldbbenchmark_spark.catalog import load_table

    appended = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in QUERIES["streaming_session_window_append"](
            spark, SF_DIR
        ).collect()
    }
    complete = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in QUERIES["streaming_session_window_agg"](
            spark, SF_DIR
        ).collect()
    }
    assert appended, "append mode emitted nothing"
    assert appended <= complete
    ev = load_table(spark, SF_DIR, "events")
    wm = ev.agg(
        (F.max("ts") - F.expr("interval 2 hours")).alias("w")
    ).collect()[0].w
    for (_, _, end, _) in appended:
        assert end < wm, (end, wm)


def test_decimal_strings_have_stable_scale(spark):
    """Every decimal rendered to string must carry the exact declared
    scale — the canonical-string contract the oracle relies on."""
    rows = QUERIES["decimal_arithmetic_suite"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert len(r.total_dec.split(".")[1]) == 2, r.total_dec
        assert len(r.avg_dec.split(".")[1]) == 6, r.avg_dec
        assert len(r.tax_dec.split(".")[1]) == 4, r.tax_dec


def test_twap_differs_from_plain_mean_somewhere(spark):
    """TWAP must actually be time-weighted: on bursty event data at
    least one key's TWAP differs from its unweighted mean (if they all
    agreed the integral would be vacuous)."""
    from pyspark.sql import functions as F

    from sparkksqldbbenchmark_spark.catalog import load_table

    twap = {
        r.user_id: r.twap_cents
        for r in QUERIES["time_weighted_avg"](spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events").where(
        (F.col("event_type") == "view") & (F.col("user_id") < 60)
    )
    plain = {
        r.user_id: r.m
        for r in ev.groupBy("user_id")
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(value * 100) AS BIGINT))"
                " DIV count(*) AS BIGINT)"
            ).alias("m")
        )
        .collect()
    }
    assert any(
        twap[u] != plain[u] for u in twap if u in plain
    ), "TWAP identical to plain mean for every key"
