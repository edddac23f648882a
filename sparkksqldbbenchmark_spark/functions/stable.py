"""Numerically deterministic double aggregation for cross-engine parity.

Two independent pitfalls make naive `round(avg(double), 2)` unstable:

1. Distributed `sum(double)` depends on partition addition order — two runs
   (or two engines) differ in the last ulps.
2. `round(double, n)` semantics differ BETWEEN engines: Spark rounds the
   shortest decimal string of the double (BigDecimal.valueOf → HALF_UP), so
   round(133.015₂, 2) = 133.02, while DuckDB/C round the binary value
   (133.014999…₂) → 133.01. Averages of fixed-2dp measures land exactly on
   .xx5 boundaries all the time, so this bites constantly.

Deterministic scheme used by every oracle-checked aggregate:

- **sum**: cast the input to DECIMAL(38,6) (recovers the exact ≤6-dp value
  of the measure/product on both engines), sum exactly (associative →
  partition-order-proof, mergeable → scales), round IN DECIMAL (both
  engines round decimals half-away-from-zero), cast the exact 2-dp result
  to double. Bit-identical everywhere.
- **avg**: exact decimal sum → double (correctly rounded on both engines),
  divide by count (single IEEE op) — and emit at FULL precision, no
  rounding. No boundary, bit-identical. (Presentation-level 2-dp rounding,
  as the reference does at SparkWeatherConsumer.scala:265-267, is applied
  only in sink formatting, never in compared results.)

Decimal partial aggregation stays inside whole-stage codegen and shuffles
one partial sum per group per partition — the right plan at 100 TB too.

A third pitfall, discovered in round 6 (the JPEG color-conversion
oracle): a bare decimal LITERAL like `0.299 * r` is typed DOUBLE by
Spark but DECIMAL by DuckDB, so the DuckDB side computes exact decimal
arithmetic while Spark computes IEEE — FLOOR of the two diverges by 1
on thousands of inputs. Rule: any oracle literal that multiplies or
offsets DATA values must be written `CAST(0.299 AS DOUBLE)` on the
DuckDB side (verified exhaustively for the JFIF conversions over all
256³ inputs). Integer-valued literals (128.0, 0.5) are exact in both
representations and may stay bare.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 6 fractional digits recovers the exact decimal value of 2-dp measures and
# their 2-term products from the double representation on both engines,
# with 32 integer digits of headroom for 100 TB sums.
_DEC = "decimal(38,6)"
_SQL_DEC = "DECIMAL(38,6)"


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def stable_sum(col: str | Column, dp: int = 2) -> Column:
    """Exact decimal sum, rounded in decimal, emitted as double."""
    return F.round(F.sum(_c(col).cast(_DEC)), dp).cast("double")


def stable_avg(col: str | Column, dp: int | None = None) -> Column:
    """Exact decimal sum → double, divided by non-null count. Emitted
    unrounded (dp is accepted for API symmetry and ignored — see module
    docstring for why rounding computed averages is unstable)."""
    c = _c(col)
    return F.sum(c.cast(_DEC)).cast("double") / F.count(c)


def sql_stable_sum(expr: str, dp: int = 2) -> str:
    """DuckDB twin of stable_sum for oracle SQL strings."""
    return (
        f"CAST(round(sum(CAST(({expr}) AS {_SQL_DEC})), {dp}) AS DOUBLE)"
    )


def sql_stable_avg(expr: str, dp: int | None = None) -> str:
    """DuckDB twin of stable_avg. count(expr) matches Spark avg's
    null-skipping denominator."""
    return (
        f"CAST(sum(CAST(({expr}) AS {_SQL_DEC})) AS DOUBLE) / count({expr})"
    )


def binary_round(col: str | Column, dp: int = 2) -> Column:
    """Round a computed double the way DuckDB does, round(x·10^dp)/10^dp:
    the binary value is scaled and rounded to an integer, so a median of
    34.535 (34.534999…₂) gives 34.53 where F.round gives 34.54. Emits a
    double."""
    scale = float(10**dp)
    return F.round(_c(col) * scale, 0) / scale
