"""Compare the generated batch tables with a TESTDATA directory.

    python3 perfbench/compare_tables.py <testdata-sf0.1-dir> [--seed 1] [--sf 0.1]

Prints, per table and column, the row count, distinct count, minimum and
maximum of both, plus a few distribution checks, and marks each line where
the two differ. The generator is meant to match on schema, row counts and
key cardinalities, and to match value ranges and distributions up to
sampling noise.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402

TABLES = ("events", "customer", "orders", "lineitem", "documents", "embeddings")

EXTRA = {
    "events.value p10/p50/p90": "select quantile_cont(value, [0.1, 0.5, 0.9]) from {events}",
    "events per user min/avg/max": "select min(c), avg(c), max(c) from "
    "(select user_id, count(*) c from {events} group by 1)",
    "events per day min/max": "select min(c), max(c) from "
    "(select date_trunc('day', ts), count(*) c from {events} group by 1)",
    "documents words min/avg/max": "select min(n), avg(n), max(n) from "
    "(select len(string_split(text, ' ')) n from {documents})",
    "documents near-duplicates": "select count(*) from {documents} where text like '% dup'",
}


def stats(con, root: str) -> dict:
    def q(sql):
        return con.execute(sql).fetchall()

    out = {}
    for t in TABLES:
        path = f"'{os.path.join(root, t)}.parquet'"
        out[f"{t} rows"] = q(f"select count(*) from {path}")[0][0]
        for col, typ, *_ in q(f"describe select * from {path}"):
            if "[" not in typ:
                out[f"{t}.{col} {typ} distinct/min/max"] = q(
                    f"select count(distinct {col}), min({col}), max({col}) from {path}")[0]
    tables = {t: f"'{os.path.join(root, t)}.parquet'" for t in ("events", "documents")}
    for name, sql in EXTRA.items():
        out[name] = q(sql.format(**tables))[0]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("testdata")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sf", type=float, default=0.1)
    args = ap.parse_args()
    con = duckdb.connect()
    with tempfile.TemporaryDirectory() as d:
        gen.write_batch_tables(d, args.seed, args.sf)
        ours, ref = stats(con, d), stats(con, args.testdata)
    for key, want in ref.items():
        got = ours.get(key)
        print(f"{'  ' if got == want else '~ '}{key}\n    testdata  {want}\n    generated {got}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
