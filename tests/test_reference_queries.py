"""Every registered query reproduces its oracle-verified golden result.

tests/golden_results.json is written by a full `tools/check_correctness.py`
sweep, at sf0.001 and at sf0.01, in which every query passed its DuckDB
oracle. An oracle's output depends only on its SQL text, the table files
and the DuckDB version, and the file holds a digest of each; so a Spark
result equal to its golden record equals the oracle's result, and no
DuckDB runs here. Any change to an oracle, to the data or to the registry
fails the golden-header checks in tests/test_contract.py until a full
passing sweep records the results again.

Test ids name the query; sf0.01 cases carry an ``sf0.01-`` prefix.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.golden import assert_matches_golden
from tools.check_correctness import GOLDEN_SFS

NAMES = sorted(entrymod.queries())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "avg_value" in df.columns


@pytest.mark.parametrize(
    "sf,name",
    [
        pytest.param(sf, n, id=n if sf == "sf0.001" else f"{sf}-{n}")
        for sf in GOLDEN_SFS
        for n in NAMES
    ],
)
def test_query_matches_oracle(spark, sf, name):
    assert_matches_golden(spark, sf, name)
