"""The round-6 cohort (plans/round6_queries.py): each member checked
against its oracle-verified golden record (tests/golden.py), plus the
SCD-2/CDC invariant tests that go beyond what a value hash can express.
"""

from __future__ import annotations

import os

import duckdb

import pytest

from tests.conftest import SF_DIR
from tests.golden import assert_matches_golden

import sparkksqldbbenchmark_spark.plans.round6_queries  # noqa: F401
from sparkksqldbbenchmark_spark.plans.registry import (
    ORACLE,
    QUERIES,
)

ROUND6 = (
    "doc_chunk_stride",
    "tfidf_top_terms",
    "funnel_conversion",
    "cohort_retention",
    "domain_mixture_resample",
    "winsorized_stats",
    "rolling_7day_active_users",
    "dedup_containment",
    "quality_cdf_normalize",
    "zorder_layout_scan",
    "ann_recall_certified",
    "bloom_semijoin_pushdown",
    "streaming_chained_window_agg",
    "dedup_cross_source_matrix",
    "scd2_dimension_build",
    "group_exact_k_sample",
    "analyze_column_stats",
    "nullsafe_join_agg",
    "cdc_snapshot_apply",
    "streaming_cdc_latest",
)

def test_every_round6_query_registered_with_oracle():
    missing = [n for n in ROUND6 if n not in QUERIES or n not in ORACLE]
    assert not missing, f"round-6 queries missing from registry: {missing}"


@pytest.mark.parametrize("name", sorted(ROUND6))
def test_round6_query_matches_oracle(spark, name):
    assert_matches_golden(spark, "sf0.001", name)


def test_scd2_intervals_partition_each_keys_timeline(spark):
    """SCD-2 invariants: per key, versions are 1..n contiguous, exactly
    one open (is_current) interval, and each version's valid_to equals
    the next version's valid_from — the timeline partitions cleanly."""
    from collections import defaultdict

    rows = QUERIES["scd2_dimension_build"](spark, SF_DIR).collect()
    by_key = defaultdict(list)
    for r in rows:
        by_key[r.user_id].append(r)
    assert by_key
    for key, vs in by_key.items():
        vs.sort(key=lambda r: r.version)
        assert [r.version for r in vs] == list(range(1, len(vs) + 1)), key
        assert sum(1 for r in vs if r.is_current) == 1, key
        assert vs[-1].is_current and vs[-1].valid_to is None, key
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to == b.valid_from, (key, a.version)
            assert a.event_type != b.event_type, (key, a.version)


def test_cdc_consumes_full_history_and_drops_deleted_keys(spark):
    """CDC invariants: n_changes over surviving + deleted keys accounts
    for every change row, and no surviving key's last op is a delete."""
    res = QUERIES["cdc_snapshot_apply"](spark, SF_DIR)
    surviving = res.collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{os.path.join(SF_DIR, 'events.parquet')}'"
    )
    total_rows, n_keys = con.execute(
        "SELECT count(*), count(DISTINCT user_id) FROM events"
    ).fetchone()
    deleted_changes = con.execute("""
        WITH latest AS (
            SELECT user_id,
                   max_by(CASE WHEN event_id % 10 = 0 THEN 'D'
                               WHEN event_id % 3 = 0 THEN 'U'
                               ELSE 'I' END, event_id) AS op,
                   count(*) AS n
            FROM events GROUP BY 1
        ) SELECT coalesce(sum(n), 0), count(*) FROM latest WHERE op = 'D'
    """).fetchone()
    con.close()
    assert sum(r.n_changes for r in surviving) + deleted_changes[0] == total_rows
    assert len(surviving) + deleted_changes[1] == n_keys


def test_funnel_stages_monotone(spark):
    """Ordered funnel counts must shrink monotonically: total users ≥
    viewers ≥ ordered clickers ≥ ordered purchasers (each stage
    requires the previous stage's event strictly earlier)."""
    r = QUERIES["funnel_conversion"](spark, SF_DIR).collect()[0]
    assert (
        r.users_total
        >= r.viewed
        >= r.clicked_after_view
        >= r.purchased_after_click
    )
    assert r.viewed > 0


def test_cohort_week_zero_covers_every_cohort(spark):
    """Every cohort has a week-0 row (a user is active in the week of
    their own first event by definition), and no offset is negative."""
    rows = QUERIES["cohort_retention"](spark, SF_DIR).collect()
    by_cohort: dict = {}
    for r in rows:
        assert r.week_offset >= 0, r
        by_cohort.setdefault(r.cohort_week, set()).add(r.week_offset)
    assert by_cohort
    for cohort, offsets in by_cohort.items():
        assert 0 in offsets, f"cohort {cohort} missing week-0 row"


def test_recall_certificates_bounded(spark):
    """recall_pct ∈ [0, 100] with hits ≤ k for both certificate rows —
    and LSH recall is structurally ≥ 0 with hits consistent."""
    for name in ("ann_recall_certified",):
        rows = QUERIES[name](spark, SF_DIR).collect()
        assert rows
        for r in rows:
            assert 0 <= r.hits <= 5
            assert r.recall_pct == r.hits * 100 // 5
