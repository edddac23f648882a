"""The round-9 cohort (plans/round9_queries.py): each member checked
against its oracle-verified golden record (tests/golden.py).

Cohort-specific invariant tests beyond the value hash live in their
operator test modules (test_video.py, test_substring.py,
test_ngram_lm.py, test_stateful.py, test_pyds.py, test_skew.py,
test_layout.py, test_udf_surface.py).
"""

from __future__ import annotations

import pytest

from tests.golden import assert_matches_golden

import sparkksqldbbenchmark_spark.plans.round9_queries  # noqa: F401
from sparkksqldbbenchmark_spark.plans.registry import (
    ORACLE,
    QUERIES,
)

ROUND9 = (
    "inline_struct_explode",
    "string_suite2",
    "bitwise_suite",
    "width_bucket_histogram",
    "ratio_to_report_share",
    "token_length_log_histogram",
    "pivot_dynamic_two_pass",
    "csv_line_codec_suite",
    "checksum_encoding_suite",
    "video_mjpeg_frame_extract",
    "sql_scripting_variables",
    "identifier_parameterized_query",
    "pipe_syntax_suite",
    "sql_table_function_lateral",
    "json_roundtrip_suite",
    "ngram_lm_familiarity",
    "exact_substring_spans",
    "state_store_reader_audit",
    "partition_overwrite_backfill",
    "schema_evolution_mergeschema",
    "orc_roundtrip_scan",
    "streaming_foreachbatch_exactly_once",
    "python_datasource_stream_sink_roundtrip",
    "mapinarrow_token_stats",
    "aqe_skew_join_split",
    "inmemory_cache_scan",
    "temperature_mixture_quota",
    "pandas_api_on_spark_agg",
    "stat_crosstab_matrix",
    "luhn_pii_check",
    "array_mutation_suite",
    "try_function_suite2",
    "char_octet_length_suite",
)

def test_every_round9_query_registered_with_oracle():
    missing = [n for n in ROUND9 if n not in QUERIES or n not in ORACLE]
    assert not missing, f"round-9 queries missing from registry: {missing}"


@pytest.mark.parametrize("name", sorted(ROUND9))
def test_round9_query_matches_oracle(spark, name):
    assert_matches_golden(spark, "sf0.001", name)
