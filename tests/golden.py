"""The one golden check: run a registered query on Spark and compare it
with its oracle-verified record in tests/golden_results.json.

Results are memoized per (scale factor, query), so a query runs once per
session however many test modules check it.
"""

from __future__ import annotations

import os

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, SF_DIR_MED
from tools.check_correctness import container_columns, golden_record, load_golden

GOLDEN = load_golden()
SF_DIRS = {os.path.basename(d): d for d in (SF_DIR, SF_DIR_MED)}

_RESULTS: dict[tuple[str, str], tuple[list[str], dict]] = {}


def assert_matches_golden(spark, sf: str, name: str) -> None:
    if (sf, name) not in _RESULTS:
        sdf = entrymod.queries()[name](spark, SF_DIRS[sf])
        rows = [tuple(r) for r in sdf.collect()]
        _RESULTS[sf, name] = (container_columns(sdf), golden_record(sdf, rows))
    containers, got = _RESULTS[sf, name]
    want = GOLDEN[sf]["queries"].get(name)
    assert want is not None, f"{name}: no {sf} golden record; run the sweep"
    assert not containers, (
        f"{name}: container-typed result column(s) {containers}; serialize "
        f"at the query boundary (sorted + array_join / to_json)"
    )
    assert got["dtypes"] == want["dtypes"], f"{name}: dtypes differ at {sf}"
    assert got["rows"] == want["rows"], f"{name}: row count differs at {sf}"
    assert got["hash"] == want["hash"], f"{name}: value hash differs at {sf}"
