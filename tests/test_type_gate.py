"""Unit-pins for the cross-engine type-class gate in
tools/check_correctness.py (r06 lesson: domain_mixture_resample went
driver-red on DuckDB HUGEINT vs Spark BIGINT with identical values;
r07 verdict item 3: DECIMAL(p,s) / VARIANT / INTERVAL must be mapped
BEFORE the round-8 suites graduate, or the gate is blind to exactly
the drift class that produced the r06 red row).

No Spark needed — type_warnings only reads ``sdf.dtypes``.
"""

from tools.check_correctness import type_warnings


class _FakeDF:
    def __init__(self, dtypes):
        self.dtypes = dtypes


def _warns(spark_type, duck_type):
    return type_warnings(
        "t", _FakeDF([("c", spark_type)]), ["c"], [duck_type]
    )


def test_machine_int_drift_is_safe():
    assert _warns("int", "BIGINT") == []
    assert _warns("bigint", "SMALLINT") == []


def test_hugeint_fails():
    # the r06 red row: pandas renders HUGEINT via float64 → "666.0"
    assert _warns("bigint", "HUGEINT")


def test_decimal_same_precision_scale_is_safe():
    assert _warns("decimal(18,2)", "DECIMAL(18,2)") == []


def test_decimal_scale_drift_fails():
    # '1.50' vs '1.500000' hash-mismatch despite equal values
    assert _warns("decimal(18,2)", "DECIMAL(24,6)")
    assert _warns("decimal(38,2)", "DECIMAL(18,2)")


def test_decimal_vs_double_fails():
    assert _warns("decimal(18,2)", "DOUBLE")
    assert _warns("double", "DECIMAL(18,2)")


def test_variant_never_reaches_comparator_raw():
    # Spark VARIANT vs DuckDB JSON stringify differently — always a
    # TYPE-FAIL; graded queries must extract to canonical types.
    assert _warns("variant", "JSON")
    assert _warns("variant", "VARCHAR")


def test_interval_never_reaches_comparator_raw():
    assert _warns("interval day to second", "INTERVAL")
    assert _warns("interval year to month", "INTERVAL")
    # unknown interval qualifiers still normalize to a failing class
    assert _warns("interval hour to minute", "INTERVAL")


def test_matching_basics_stay_safe():
    assert _warns("string", "VARCHAR") == []
    assert _warns("date", "DATE") == []
    assert _warns("array<string>", "VARCHAR[]") == []
