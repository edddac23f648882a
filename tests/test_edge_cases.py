"""Edge-case hardening: empty/unicode/degenerate inputs must produce
nulls or empty results, never exceptions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkksqldbbenchmark_spark.llm import dedup, text
from sparkksqldbbenchmark_spark.operators.aggregates import percentile_stats
from sparkksqldbbenchmark_spark.operators.joins import forward_fill


def test_text_ops_on_empty_and_unicode(spark):
    rows = [
        (0, ""),
        (1, "   "),
        (2, "héllo wörld çafé"),
        (3, "日本語のテキストです"),
        (4, "mixed 日本語 and english words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.with_quality_scores(text.with_token_counts(df)).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[0]["ws_tokens"] == 0
    assert by_id[1]["ws_tokens"] == 0
    # ratios divide by zero tokens/chars → null, not error
    assert by_id[0]["stopword_ratio"] is None
    assert by_id[2]["ws_tokens"] == 3
    lang = {r["doc_id"]: r["predicted_lang"] for r in text.with_lang_id(df).collect()}
    assert lang[3] == "zh"  # CJK detection
    assert lang[4] == "zh"
    assert lang[0] == "und"


def test_dedup_on_tiny_corpus(spark):
    df = spark.createDataFrame([(0, "one doc only")], "doc_id long, text string")
    assert dedup.minhash_lsh_pairs(df, "text", "doc_id").count() == 0
    assert dedup.simhash_pairs(df, "text", "doc_id").count() == 0
    assert dedup.exact_dedup_groups(df, "text", "doc_id").count() == 1


def test_percentiles_on_single_row(spark):
    df = spark.createDataFrame([(5.0,)], "value double")
    row = percentile_stats(df, "value").collect()[0]
    assert row["sample_count"] == 1
    assert row["p5"] == 5.0 and row["p99"] == 5.0
    assert row["stddev_value"] == 0.0


@pytest.mark.parametrize(
    "values", [[34.53, 34.54], [34.52, 34.53, 34.54, 34.55]]
)
def test_percentiles_round_like_the_oracle_on_tie_medians(spark, values):
    """Both medians are the double 34.535 (binary value 34.534999…), which
    DuckDB's round gives as 34.53 and Spark's F.round as 34.54; every
    column must equal the oracle's. The std-dev of the two-value set is
    exactly 0.005, a tie that the engines' floating-point variance lands
    on opposite sides of (DuckDB 0.0050000000000008, Spark
    0.0049999999999990), so it is compared on the four-value set only."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    con.register("events", pd.DataFrame({"value": values}))
    want = con.execute(entrymod.oracle_sql()["latency_percentiles"]).df()
    want = want.iloc[0].to_dict()
    df = spark.createDataFrame([(v,) for v in values], "value double")
    got = percentile_stats(df, "value").collect()[0].asDict()
    if len(values) == 2:
        del got["stddev_value"], want["stddev_value"]
    assert got["p5"] == 34.53
    assert got == want


def test_forward_fill_all_null_prefix(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, 7.0), (4, None)], "t int, v double"
    )
    out = {r["t"]: r["v"] for r in forward_fill(df, "t", ["v"]).collect()}
    assert out == {1: None, 2: None, 3: 7.0, 4: 7.0}


def test_forward_fill_chunked_crosses_buckets(spark):
    """Timestamp order column engages the chunked two-pass fill (one
    bucket per day); values must carry across bucket boundaries, through
    all-null buckets, and null prefixes before any value stay null."""
    from pyspark.sql import functions as F

    rows = [
        ("2024-01-01 01:00:00", None, None),
        ("2024-01-01 02:00:00", 1.0, None),  # day 1: v gets a value
        ("2024-01-02 01:00:00", None, None),  # day 2: all null → carry-in
        ("2024-01-02 02:00:00", None, None),
        ("2024-01-03 01:00:00", None, 9.0),  # day 3: v carried 2 days; w new
        ("2024-01-03 02:00:00", 3.0, None),
    ]
    df = spark.createDataFrame(rows, "ts string, v double, w double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {
        str(r["ts"]): (r["v"], r["w"])
        for r in forward_fill(df, "ts", ["v", "w"]).collect()
    }
    assert got == {
        "2024-01-01 01:00:00": (None, None),
        "2024-01-01 02:00:00": (1.0, None),
        "2024-01-02 01:00:00": (1.0, None),
        "2024-01-02 02:00:00": (1.0, None),
        "2024-01-03 01:00:00": (1.0, 9.0),
        "2024-01-03 02:00:00": (3.0, 9.0),
    }


def test_windowed_agg_empty_input(spark):
    from sparkksqldbbenchmark_spark.operators.windowed_agg import (
        tumbling_window_agg,
    )

    df = spark.createDataFrame(
        [], "ts timestamp, metric string, value double"
    )
    out = tumbling_window_agg(df, ts_col="ts", keys=("metric",))
    assert out.count() == 0


def test_asof_join_semantics(spark):
    """ASOF semantics pinned: latest right at-or-before left.ts per key;
    equal timestamps match; keys with no preceding right row get NULL;
    keys absent from the right side get NULL."""
    from sparkksqldbbenchmark_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:10", "l1"),
            (1, "2024-01-01 00:00:20", "l2"),  # == right ts -> matches
            (1, "2024-01-01 00:00:05", "l0"),  # before any right -> NULL
            (2, "2024-01-01 00:00:30", "l3"),  # key has no right rows
        ],
        "k long, ts string, tag string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:08", 8.0),
            (1, "2024-01-01 00:00:20", 20.0),
            (1, "2024-01-01 00:00:25", 25.0),  # after every left -> unused
        ],
        "k long, ts string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r["tag"]: r["v"]
        for r in asof_join(left, right, ["k"], "ts", ["v"]).collect()
    }
    assert out == {"l0": None, "l1": 8.0, "l2": 20.0, "l3": None}


def test_range_join_boundaries_and_multi_bucket(spark):
    """Range join pinned: start inclusive, end exclusive, intervals
    spanning many buckets still produce each qualifying pair exactly
    once (the pair meets only in the point's bucket)."""
    from sparkksqldbbenchmark_spark.operators.joins import (
        range_join_points_intervals,
    )

    points = spark.createDataFrame(
        [
            ("2024-01-01 00:00:00", "on_start"),
            ("2024-01-07 23:59:59", "inside"),
            ("2024-01-08 00:00:00", "on_end"),
            ("2023-12-31 23:59:59", "before"),
        ],
        "ts string, tag string",
    ).withColumn("ts", F.to_timestamp("ts"))
    intervals = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-08 00:00:00", "w1")],
        "s string, e string, iv string",
    ).withColumn("s", F.to_timestamp("s")).withColumn(
        "e", F.to_timestamp("e")
    )
    # bucket width much smaller than the interval -> multi-bucket explode
    out = range_join_points_intervals(
        points, intervals, "ts", "s", "e", bucket_seconds=3600
    ).collect()
    tags = sorted(r["tag"] for r in out)
    assert tags == ["inside", "on_start"]
    assert len(out) == len(set((r["tag"], r["iv"]) for r in out))


def test_time_rollup_coarse_equals_direct(spark):
    """The rollup's re-aggregated daily level must equal aggregating the
    raw rows directly — the decomposable-state guarantee the oracle
    relies on."""
    from sparkksqldbbenchmark_spark.operators.rollup import time_rollup

    rows = [
        ("2024-01-01 00:10:00", "a", 1.07),
        ("2024-01-01 00:50:00", "a", 2.03),
        ("2024-01-01 13:00:00", "a", 4.11),
        ("2024-01-02 01:00:00", "a", 8.25),
        ("2024-01-01 05:00:00", "b", 16.5),
    ]
    df = spark.createDataFrame(rows, "ts string, k string, v double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = time_rollup(df, "ts", "v", ["k"])
    daily = {
        (r["window_start"], r["k"]): (r["message_count"], r["avg_value"])
        for r in out.where(F.col("level") == "1d").collect()
    }
    direct = {
        (r["d"], r["k"]): (r["c"], r["a"])
        for r in df.groupBy(
            F.date_format(F.window("ts", "1 day").start, "yyyy-MM-dd HH:mm:ss").alias("d"),
            "k",
        )
        .agg(
            F.count(F.lit(1)).alias("c"),
            (
                F.sum(F.col("v").cast("decimal(38,6)")).cast("double")
                / F.count("v")
            ).alias("a"),
        )
        .collect()
    }
    assert daily == direct
    # fine level is intact alongside (00:10 and 00:50 share one hour)
    assert out.where(F.col("level") == "1h").count() == 4


def test_kmv_sketch_degenerate_and_estimate(spark):
    """sample_k < k when distinct values are scarce; estimate lands
    within the ~1/sqrt(k-2) band for a known cardinality."""
    from sparkksqldbbenchmark_spark.operators.sketch import (
        kmv_distinct_estimate,
    )

    few = spark.range(5).select(F.col("id").alias("u"))
    r = kmv_distinct_estimate(few, "u", k=64).collect()[0]
    assert r["sample_k"] == 5

    many = spark.range(2000).select((F.col("id") % 1000).alias("u"))
    r = kmv_distinct_estimate(many, "u", k=128).collect()[0]
    assert r["sample_k"] == 128
    assert 700 < r["est_distinct"] < 1400  # 1000 true, ~9% stderr


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property: asof_join == pandas merge_asof(direction='backward') on
    randomized keyed series (seeded for reproducibility)."""
    import random

    import pandas as pd

    rng = random.Random(20260813)
    base = pd.Timestamp("2024-01-01")
    left_rows = [
        (
            k,
            (base + pd.Timedelta(seconds=rng.randrange(0, 3600)))
            .to_pydatetime(),
            i,
        )
        for i, k in enumerate(rng.choices([1, 2, 3], k=40))
    ]
    right_rows = {
        (
            k,
            (base + pd.Timedelta(seconds=rng.randrange(0, 3600)))
            .to_pydatetime(),
        )
        for k in rng.choices([1, 2, 3, 4], k=30)
        for _ in range(1)
    }
    right_rows = [(k, t, float(hash((k, t)) % 1000)) for k, t in right_rows]

    from sparkksqldbbenchmark_spark.operators.joins import asof_join

    ldf = spark.createDataFrame(left_rows, "k long, ts timestamp, lid long")
    rdf = spark.createDataFrame(right_rows, "k long, ts timestamp, v double")
    got = {
        (r["k"], r["lid"]): r["v"]
        for r in asof_join(ldf, rdf, ["k"], "ts", ["v"]).collect()
    }

    lp = pd.DataFrame(left_rows, columns=["k", "ts", "lid"]).sort_values("ts")
    rp = pd.DataFrame(right_rows, columns=["k", "ts", "v"]).sort_values("ts")
    exp_df = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
    exp = {
        (row.k, row.lid): (None if pd.isna(row.v) else row.v)
        for row in exp_df.itertuples()
    }
    assert got == exp


def test_range_join_matches_bruteforce(spark):
    """Property: bucketized range join == brute-force cross-filter on
    randomized points/intervals (seeded)."""
    import random

    import pandas as pd

    rng = random.Random(7)
    base = pd.Timestamp("2024-01-01")
    points = [
        (
            (base + pd.Timedelta(minutes=rng.randrange(0, 5000)))
            .to_pydatetime(),
            i,
        )
        for i in range(60)
    ]
    intervals = []
    for j in range(15):
        iv_s = base + pd.Timedelta(minutes=rng.randrange(0, 4500))
        iv_e = iv_s + pd.Timedelta(minutes=rng.randrange(1, 900))
        intervals.append((iv_s.to_pydatetime(), iv_e.to_pydatetime(), j))

    from sparkksqldbbenchmark_spark.operators.joins import (
        range_join_points_intervals,
    )

    pdf = spark.createDataFrame(points, "ts timestamp, pid long")
    idf = spark.createDataFrame(intervals, "s timestamp, e timestamp, iid long")
    got = {
        (r["pid"], r["iid"])
        for r in range_join_points_intervals(
            pdf, idf, "ts", "s", "e", bucket_seconds=3600
        ).collect()
    }
    exp = {
        (pid, iid)
        for ts, pid in points
        for s, e, iid in intervals
        if s <= ts < e
    }
    assert got == exp
