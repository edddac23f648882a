"""Driver-contract invariants: the registry must stay well-formed —
every oracle key names a query, names are unique and stable, the graded
head is fixed, the golden file still describes the current oracles and
data, entry() uses a registered query, and the cluster profile emits
sane conf."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import __spark_entry__ as entrymod
from sparkksqldbbenchmark_spark.session import cluster_profile
from tests.golden import GOLDEN, SF_DIRS
from tools.check_correctness import GOLDEN_SFS, container_columns, golden_header

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_well_formed():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 50
    assert set(oracles) <= set(qs), "oracle without a query"
    # every registered query is oracle-checked as of round 4 (the two
    # former rows-only rows gained deterministic oracles per VERDICT r03)
    rows_only = set(qs) - set(oracles)
    assert not rows_only, f"unexpected rows-only queries: {rows_only}"
    for name, sql in oracles.items():
        assert sql.strip().upper().startswith(("SELECT", "WITH")), name


def test_registry_order_fits_driver_window():
    """The driver grades the first 50 entries of queries(); HEAD fixes
    them, in order. Plan modules import without guards, so a module that
    fails to import fails loudly instead of shifting the window."""
    assert len(set(entrymod.HEAD)) == len(entrymod.HEAD) == 50
    assert list(entrymod.queries())[:50] == list(entrymod.HEAD)


def test_graded_head_is_exactly_the_planned_cohort():
    """The driver imports __spark_entry__ in a fresh interpreter, where
    plan modules load in import order rather than in the order other
    test modules happened to import them. Check the first 50 there, and
    that every graded query has an oracle-verified record at each SF."""
    out = subprocess.run(
        [sys.executable, "-c",
         "import json, __spark_entry__ as e; "
         "print(json.dumps(list(e.queries())[:50]))"],
        cwd=REPO, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    assert json.loads(out.strip().splitlines()[-1]) == list(entrymod.HEAD)
    oracles = entrymod.oracle_sql()
    for sf in GOLDEN_SFS:
        unrecorded = [
            n for n in entrymod.HEAD
            if n not in oracles or n not in GOLDEN[sf]["queries"]
        ]
        assert not unrecorded, f"{sf}: graded without a record: {unrecorded}"


def _current_headers() -> dict[str, dict]:
    oracles = entrymod.oracle_sql()
    return {sf: golden_header(d, oracles) for sf, d in SF_DIRS.items()}


def test_shared_infra_unchanged_since_green_verdict():
    """The inputs every oracle shares, the table files and the DuckDB
    version, are the ones the recording sweep ran against; otherwise the
    golden results no longer stand for the oracles' output."""
    assert sorted(GOLDEN) == sorted(SF_DIRS) == sorted(GOLDEN_SFS)
    for sf, want in _current_headers().items():
        assert GOLDEN[sf]["duckdb_version"] == want["duckdb_version"], sf
        assert GOLDEN[sf]["tables"] == want["tables"], f"{sf}: table files moved"


def test_tail_source_unchanged_since_green_verdict():
    """The golden file records exactly the registered queries, and each
    oracle's SQL text is the one its recorded result was verified
    against. Any change fails here until a full passing sweep records
    the results again."""
    names = sorted(entrymod.queries())
    for sf, want in _current_headers().items():
        section = GOLDEN[sf]
        assert sorted(section["queries"]) == names, f"{sf}: query set moved"
        moved = sorted(
            n for n in want["oracles"].keys() | section["oracles"].keys()
            if section["oracles"].get(n) != want["oracles"].get(n)
        )
        assert not moved, f"{sf}: oracle SQL moved: {moved}"


def test_container_type_gate_rejects_planted_array_column(spark):
    """The r04/r08 failure class: a raw array/map/struct output column
    crashes the driver's hash comparator (pandas `unhashable type`).
    tools/check_correctness.py and the golden check fail any query whose
    result schema carries one — this test pins that the gate actually
    fires on planted container columns of each kind, and stays silent on
    the serialized boundary form (array_join / to_json)."""
    from pyspark.sql import functions as F

    base = spark.range(3)
    planted = base.select(
        "id",
        F.array(F.lit("a"), F.lit("b")).alias("arr"),
        F.create_map(F.lit("k"), F.lit(1)).alias("m"),
        F.struct(F.lit(1).alias("x")).alias("st"),
    )
    flagged = container_columns(planted)
    assert len(flagged) == 3 and all(
        f.split(":")[0] in {"arr", "m", "st"} for f in flagged
    ), flagged

    serialized = planted.select(
        "id",
        F.array_join("arr", "|").alias("arr"),
        F.to_json("m").alias("m"),
        F.to_json("st").alias("st"),
    )
    assert container_columns(serialized) == []


def test_entry_is_registered_flagship(spark):
    df = entrymod.entry(spark)
    assert set(df.columns) == {
        "window_start", "window_end", "event_type", "avg_value",
        "min_value", "max_value", "message_count", "min_producer_ts",
    }


def test_cluster_profile_conf():
    cfg = cluster_profile()
    conf = cfg.to_conf()
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.shuffle.partitions"] == "2000"
    assert "RocksDBStateStoreProvider" in conf[
        "spark.sql.streaming.stateStore.providerClass"
    ]
    override = cluster_profile(shuffle_partitions=500)
    assert override.to_conf()["spark.sql.shuffle.partitions"] == "500"
