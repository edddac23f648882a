"""Latency-monitor metrics pipeline as one batch DataFrame query.

Re-expresses LatencyMonitor.scala:211-302 declaratively:
validity filter (P4) → latency column → aggregation (A4/A5) with the
reference's exact conventions:
- percentile = sorted[(count*p).toInt] clamped — nearest-rank-ish,
  0-based floor(n·p) index (LatencyMonitor.scala:278-280), NOT
  interpolated;
- std-dev divides by N (population, :286-287);
- top-5 highest-latency windows (:383-391).

The reference collects everything into a driver-side ListBuffer; here one
aggregate returns the scalars and the sorted latencies.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The monitor's validity bounds (LatencyMonitor.scala:217-221)
MAX_LATENCY_MS = 600_000
MIN_TS = "2020-01-01 00:00:00"


def valid_latency_points(
    df: DataFrame,
    *,
    end_ts_col: str = "processing_end_ts",
    start_ts_col: str = "min_producer_ts",
) -> DataFrame:
    """Derive latency_ms and apply the monitor's validity predicate."""
    lat = (F.col(end_ts_col) - F.col(start_ts_col)).alias("latency_ms")
    out = df.withColumn("latency_ms", lat)
    return out.where(
        (F.col("latency_ms") > 0)
        & (F.col("latency_ms") < MAX_LATENCY_MS)
        & (
            F.col(start_ts_col)
            > F.unix_timestamp(F.lit(MIN_TS).cast("timestamp")) * 1000
        )
    )


@dataclass
class LatencyMetrics:
    sample_count: int
    avg_ms: float
    min_ms: float
    max_ms: float
    stddev_ms: float
    p50_ms: float
    p95_ms: float
    p99_ms: float

    def quality(self) -> dict[str, str]:
        """The monitor's scoring thresholds
        (LatencyMonitor.scala:357-378)."""

        def grade(v: float, excellent: float, good: float) -> str:
            return (
                "excellent" if v < excellent
                else "good" if v < good else "poor"
            )

        return {
            "avg": grade(self.avg_ms, 5_000, 30_000),
            "p99": grade(self.p99_ms, 10_000, 60_000),
            "stddev": grade(self.stddev_ms, 5_000, 15_000),
        }


def calculate_metrics(valid: DataFrame, col: str = "latency_ms") -> LatencyMetrics:
    """Every metric from one aggregate. The percentiles index the sorted
    latencies, which the monitor holds one per micro-batch, so they fit in
    one aggregation buffer."""
    r = valid.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(col).alias("avg"),
        F.min(col).alias("mn"),
        F.max(col).alias("mx"),
        F.stddev_pop(col).alias("sd"),
        F.sort_array(F.collect_list(col)).alias("sorted"),
    ).collect()[0]
    xs = r["sorted"]

    def pct(p: float) -> float:
        return float(xs[min(int(len(xs) * p), len(xs) - 1)]) if xs else 0.0

    return LatencyMetrics(
        sample_count=r["n"],
        avg_ms=float(r["avg"] or 0.0),
        min_ms=float(r["mn"] or 0.0),
        max_ms=float(r["mx"] or 0.0),
        stddev_ms=float(r["sd"] or 0.0),
        p50_ms=pct(0.5),
        p95_ms=pct(0.95),
        p99_ms=pct(0.99),
    )


def top_latency_windows(valid: DataFrame, k: int = 5) -> DataFrame:
    """O2 — the report's top-5 worst windows
    (LatencyMonitor.scala:383-391)."""
    return valid.orderBy(F.desc("latency_ms")).limit(k)
