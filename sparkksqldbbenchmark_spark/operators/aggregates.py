"""Batch aggregation operators (SURVEY.md §2.4).

All built-in expressions — Catalyst plans partial+final aggregation with
map-side combine, so each groupBy is one shuffle carrying pre-aggregated
rows. No UDAFs, no driver-side loops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkksqldbbenchmark_spark.functions.stable import (
    binary_round,
    stable_avg,
    stable_sum,
)


def latest_by_offset(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    offset_col: str,
) -> DataFrame:
    """ksqlDB LATEST_BY_OFFSET (setup-ksqldb-correct.sh:102): the value with
    the highest arrival offset per group. `max_by` is deterministic where
    `F.last` is not (SURVEY §2.4 A3). Single hash aggregation — one shuffle.
    """
    return df.groupBy(*keys).agg(
        F.max_by(value_col, offset_col).alias(f"latest_{value_col}"),
        F.max(offset_col).alias(f"max_{offset_col}"),
    )


def percentile_stats(
    df: DataFrame,
    value_col: str,
    percentiles: Sequence[float] = (0.5, 0.95, 0.99),
    round_dp: int = 2,
) -> DataFrame:
    """Latency-monitor statistics (LatencyMonitor.scala:268-302): exact
    percentiles, min/max/avg, population std-dev (divides by N, :286-287),
    count. Exact `percentile` is a single sort-based aggregate; at 100 TB
    swap for `percentile_approx` (t-digest, mergeable, no global sort).
    Computed doubles (std-dev, interpolated percentiles) round as DuckDB
    rounds them (`binary_round`); min/max are input values.
    """
    pct_arr = "array(" + ",".join(str(p) for p in percentiles) + ")"
    pcts = F.expr(f"percentile({value_col}, {pct_arr})")
    row = [
        F.count(F.lit(1)).alias("sample_count"),
        stable_avg(value_col, round_dp).alias("avg_value"),
        F.round(F.min(value_col), round_dp).alias("min_value"),
        F.round(F.max(value_col), round_dp).alias("max_value"),
        binary_round(F.stddev_pop(value_col), round_dp).alias("stddev_value"),
    ]
    for i, p in enumerate(percentiles):
        row.append(
            binary_round(F.element_at(pcts, i + 1), round_dp).alias(
                f"p{str(p).replace('0.', '')}"
            )
        )
    return df.agg(*row)


def nearest_rank_percentile(
    df: DataFrame, value_col: str, p: float
) -> DataFrame:
    """The reference's exact percentile convention: sorted[(count*p).toInt]
    clamped (LatencyMonitor.scala:278-280) — 0-based floor(n*p) index.
    Expressed as a rank filter (no full collect; one sort, one filter)."""
    from pyspark.sql import Window

    n = F.count(F.lit(1)).over(Window.partitionBy())
    rn = F.row_number().over(Window.partitionBy().orderBy(value_col))
    idx = F.least(F.floor(n * F.lit(p)), n - 1)
    return (
        df.select(F.col(value_col), rn.alias("__rn"), idx.alias("__idx"))
        .where(F.col("__rn") == F.col("__idx") + 1)
        .select(F.col(value_col).alias(f"p{str(p).replace('0.', '')}_nearest_rank"))
    )


def per_key_accumulation(
    df: DataFrame,
    key: str,
    value_col: str,
    ts_col: str,
    param_col: str,
) -> DataFrame:
    """DMI per-station accumulation (dmi/scripts/wind.py:107-150) as one
    hash aggregation: counts, running min/max/sum, first/last observation
    timestamp, sorted distinct parameter list (wind.py:221 `', '.join`).
    collect_set stays bounded (small parameter domain) so this is safe at
    scale; the string join is F19 `array_join(array_sort(...))`.
    """
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("observation_count"),
        F.round(F.min(value_col), 2).alias("min_value"),
        F.round(F.max(value_col), 2).alias("max_value"),
        stable_sum(value_col, 2).alias("sum_value"),
        F.date_format(F.min(ts_col), "yyyy-MM-dd HH:mm:ss").alias("first_observed"),
        F.date_format(F.max(ts_col), "yyyy-MM-dd HH:mm:ss").alias("last_observed"),
        F.array_join(F.array_sort(F.collect_set(param_col)), ", ").alias(
            "parameters_measured"
        ),
        F.size(F.collect_set(param_col)).cast("long").alias("parameter_count"),
    )


def value_counts(df: DataFrame, col: str) -> DataFrame:
    """pandas value_counts (dmi/scripts/wind.py:267-276): count per value,
    descending."""
    return df.groupBy(col).agg(F.count(F.lit(1)).alias("count"))


def correlation_pairs(
    df: DataFrame, pairs: Sequence[tuple[str, str]], round_dp: int = 4
) -> DataFrame:
    """Pairwise Pearson correlations (price_prediction.ipynb cell 14 corr
    matrix). For a handful of pairs, one aggregate row beats assembling an
    ML vector; all pairs compute in a single pass over the data (one
    aggregation, no shuffle of raw rows beyond partial aggs)."""
    return df.agg(
        *[
            F.round(F.corr(a, b), round_dp).alias(f"corr_{a}_{b}")
            for a, b in pairs
        ]
    )
