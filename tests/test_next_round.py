"""The queries of plans/next_round.py are registered like every other:
each has a DuckDB oracle and an oracle-verified golden record at both
scale factors, so tests/test_reference_queries.py checks their results."""

from __future__ import annotations

import __spark_entry__ as entrymod
from tests.golden import GOLDEN
from tools.check_correctness import GOLDEN_SFS

NEXT_ROUND = {
    "team_draft_interleave_k6_generated",
    "good_turing_frequency_smoothing",
    "winnowing_fingerprint_dedup_certified",
    "bpe_apply_frozen_merges_tokenization",
    "edit2_double_deletion_join_complete",
}


def test_every_staged_query_has_oracle():
    mod = "sparkksqldbbenchmark_spark.plans.next_round"
    here = {n for n, fn in entrymod.queries().items() if fn.__module__ == mod}
    assert here == NEXT_ROUND
    assert NEXT_ROUND <= set(entrymod.oracle_sql())
    assert NEXT_ROUND.isdisjoint(entrymod.HEAD)
    for sf in GOLDEN_SFS:
        assert NEXT_ROUND <= set(GOLDEN[sf]["queries"]), sf
