"""Paired single-query timing with the bench.py methodology.

Usage: python tools/time_query.py name1 [name2 ...]

Same session profile as bench.py (AQE off, local[$SPARK_GRAFT_CPUS],
32 shuffle partitions), same staged layout (documents re-laid as 32
files), one discarded warm-up execution of the first query, then
consecutive adaptive best-of-N (3-8 samples, stop when the newest sample
no longer improves the prior min by >5%). Prints per-query min and
spread — for before/after comparisons run back to back.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import stage_bench_layout
from sparkksqldbbenchmark_spark.session import SessionConfig, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    spark = get_spark(
        SessionConfig(
            app_name="time_query",
            aqe=False,
            extra={"spark.ui.showConsoleProgress": "false"},
        )
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).count()
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    queries = entrymod.queries()
    run_dir = stage_bench_layout(spark, SF_DIR)
    first = queries.get(names[0])
    first(spark, run_dir).count()  # discarded warm-up
    for name in names:
        fn = queries[name]
        times: list[float] = []
        while len(times) < 8:
            t0 = time.time()
            fn(spark, run_dir).count()
            times.append(time.time() - t0)
            if len(times) >= 3 and times[-1] >= 0.95 * min(times[:-1]):
                break
        print(
            f"{name}: min={min(times):.3f}s spread=+{max(times)-min(times):.3f}s"
            f" n={len(times)} all={[round(t,3) for t in times]}"
        )


if __name__ == "__main__":
    main()
