"""Product quantization (PQ) — the standard embedding-compression
scheme for billion-vector ANN indexes (IVF-PQ): split each d-dim vector
into m subvectors, train a small k-centroid codebook per subspace with
L2 Lloyd iterations, and represent every vector by m small codes
(m·log2(k) bits — 8 subspaces × 8 centroids = 3 bits/subspace = 24 bits
per 64-dim float32 vector here, an ~85× compression). Search-side ADC
(asymmetric distance computation) sums per-subspace lookup tables; this
module trains the codebooks and measures the thing a production
pipeline monitors: per-subspace quantization error.

Separate module from llm/similarity.py on purpose: PQ evolves
independently of the LSH and cosine top-k operators there.

Determinism contract (same scheme the IVF coarse quantizer pins,
llm/similarity.kmeans_centroids): seeds = the first k vectors'
subvectors; assignment by the EXPANDED L2 form |v|² − 2·v·c + |c|²
with the dot/self-dot written as the unrolled left-associated IEEE sum
both engines compute identically; re-centering means over integer
nano-quantized components (floor(x·1e9 + 0.5), exact BIGINT sums,
one double division). Fixed iteration count keeps the plan static.

Scale shape: the subspace explode is a narrow m× row expansion of
8-element slices (NOT m copies of the full vector); every Lloyd round
is one broadcast of m·k tiny centroids + a map-side min_by collapse +
one (subspace, centroid, pos) aggregation whose key space is m·k·d' —
constant-size frames everywhere except the single id-keyed partial
aggregation per round. At 100 TB the codebooks stay a broadcast
constant and training runs on a sample; encoding the full corpus is
the same broadcast-assign map, shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sub_dot(a: str, b: str, dim: int) -> str:
    """Unrolled left-associated dot product over `dim` array elements
    (Spark SQL subscripts are 0-based; the oracle's mirror uses DuckDB's
    1-based subscripts — same term SEQUENCE, so the IEEE fold order is
    identical cross-engine)."""
    return " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(dim))


def _sql_sub_dot(a: str, b: str, dim: int) -> str:
    """DuckDB twin of _sub_dot (1-based subscripts, same term order)."""
    return " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(1, dim + 1))


def _sliced(df: DataFrame, id_col: str, vec_col: str,
            subspaces: int, sub_dim: int) -> DataFrame:
    """(id, subspace, svec, vv): one row per vector per subspace with
    the double-cast subvector slice and its self-dot."""
    return (
        df.select(
            F.col(id_col).alias("vid"),
            F.expr(
                f"transform({vec_col}, x -> cast(x as double))"
            ).alias("dvec"),
        )
        .select(
            "vid",
            F.explode(F.expr(f"sequence(0, {subspaces - 1})")).alias("s"),
            "dvec",
        )
        .select(
            "vid",
            "s",
            F.expr(f"slice(dvec, s * {sub_dim} + 1, {sub_dim})").alias(
                "svec"
            ),
        )
        .withColumn("vv", F.expr(_sub_dot("svec", "svec", sub_dim)))
    )


def pq_quantization_error(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    subspaces: int = 8,
    sub_dim: int = 8,
    num_centroids: int = 8,
    lloyd_iters: int = 2,
) -> DataFrame:
    """Train per-subspace PQ codebooks and report, per subspace: vector
    count, distinct codebook entries actually used, and the total and
    max per-vector quantization error in integer nano-units
    (floor(L2² · 1e9 + 0.5) — order-independent exact sums). Rising
    error per subspace is the production signal for codebook drift or a
    distribution shift; dead codebook entries (used < k) signal wasted
    bits."""
    sliced = _sliced(df, id_col, vec_col, subspaces, sub_dim)
    cent = sliced.where(F.col("vid") < num_centroids).select(
        "s",
        F.col("vid").alias("centroid_id"),
        F.col("svec").alias("cvec"),
        F.col("vv").alias("cc"),
    )

    def assign(src: DataFrame, cents: DataFrame) -> DataFrame:
        scored = src.join(F.broadcast(cents), "s").withColumn(
            "dist2",
            F.col("vv")
            - 2.0 * F.expr(_sub_dot("svec", "cvec", sub_dim))
            + F.col("cc"),
        )
        return (
            scored.groupBy("vid", "s")
            .agg(
                F.min_by(
                    F.struct("centroid_id", "svec", "dist2"),
                    F.struct("dist2", "centroid_id"),
                ).alias("__best")
            )
            .select(
                "vid",
                "s",
                F.col("__best.centroid_id").alias("centroid_id"),
                F.col("__best.svec").alias("svec"),
                F.col("__best.dist2").alias("dist2"),
            )
        )

    for _ in range(lloyd_iters):
        assigned = assign(sliced, cent)
        means = (
            assigned.select("s", "centroid_id", F.posexplode("svec"))
            .groupBy("s", "centroid_id", "pos")
            .agg(
                (
                    F.sum(
                        F.floor(F.col("col") * F.lit(1e9) + F.lit(0.5))
                        .cast("long")
                    ).cast("double")
                    / (F.count(F.lit(1)).cast("double") * F.lit(1e9))
                ).alias("mv")
            )
        )
        cent = (
            means.groupBy("s", "centroid_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, mv))),"
                    " x -> x.mv)"
                ).alias("cvec")
            )
            .withColumn("cc", F.expr(_sub_dot("cvec", "cvec", sub_dim)))
        )
    final = assign(sliced, cent).withColumn(
        "err_nano",
        F.floor(F.col("dist2") * F.lit(1e9) + F.lit(0.5)).cast("long"),
    )
    return final.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.count_distinct("centroid_id").alias("used_centroids"),
        F.sum("err_nano").alias("total_err_nano"),
        F.max("err_nano").alias("max_err_nano"),
    ).select(
        F.col("s").alias("subspace"),
        "n_vectors",
        "used_centroids",
        "total_err_nano",
        "max_err_nano",
    )
