"""Round-10 graduated queries (formerly the plans/next_round.py staging
area, rotated into the driver-graded head per docs/ROTATION_R10.md).

Every query here was DuckDB-oracle-verified at sf0.001 AND sf0.01 AND
sf0.1.

The cohort: the certificate / LLM-depth rows (BM25 odds retrieval,
count-min heavy hitters with the never-underestimates certificate,
minhash estimator-error certificate, decontamination max-span,
cross-source quantile normalization, pack-composition audit), the
analytic-statistics family (ACF, OLS trends, Gini, KS drift, Benford,
Fano burstiness, weighted median, rolling median, GK group quantiles,
collision probability), the sweep/graph/spatial rows (interval
coverage, per-key and chunked-global peak concurrency, Merkle range
digests, integer PageRank over the dup graph, Pareto skyline, nearest
site, geohash buckets, HLL union re-aggregation, SAX shape
signatures), and the Python-API matrix (filter-pushdown DataSource,
Arrow scalar UDFs, cogroup reconcile, applyInArrow, dynamic-schema
UDTF, sink append audit, corrupt-record JSON, conversation render).

Eight suite siblings stay staged in plans/next_round.py for round 11
(hof_suite2, map_hof_suite2, struct_field_mutation_suite,
like_quantifier_suite, union_missing_columns_suite,
named_window_clause_sql, lateral_column_alias_sql,
text_format_roundtrip) -- 43 staged > 35 free head slots; each one's
machinery keeps graded siblings per docs/ROTATION_R10.md.

Design notes per query live in the docstrings; every one follows the
repo-wide cross-engine determinism rules (functions/stable.py,
llm/hashing.py): integer or exact-decimal arithmetic wherever a value is
compared, libm only where both engines are correctly-rounded (IEEE
division), md5-based hashing for anything pseudo-random.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkksqldbbenchmark_spark.catalog import load_table
from sparkksqldbbenchmark_spark.plans.registry import query

QueryFn = Callable[[SparkSession, str], DataFrame]


def _view(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register TESTDATA tables as temp views for spark.sql queries
    (CREATE OR REPLACE so re-runs in one session are safe)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)

# ===================================================================
# Round-9 staging: new-surface operators for the round-10 graduation.
# ===================================================================

# ------------------------------------------------ BM25 retrieval --


@query(
    "bm25_odds_retrieval",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS dl,
               len(list_filter(string_split(text, ' '),
                               x -> x = 'join')) AS tf_join,
               len(list_filter(string_split(text, ' '),
                               x -> x = 'hash')) AS tf_hash,
               len(list_filter(string_split(text, ' '),
                               x -> x = 'scan')) AS tf_scan,
               len(list_filter(string_split(text, ' '),
                               x -> x = 'vector')) AS tf_vector
        FROM documents
    ),
    corpus AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
               CAST(sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS df_join,
               CAST(sum(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS df_hash,
               CAST(sum(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS df_scan,
               CAST(sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS df_vector
        FROM d
    )
    SELECT doc_id,
           CAST(dl AS INTEGER) AS dl,
           CAST(tf_join AS INTEGER) AS tf_join,
           (((n_docs - df_join + CAST(0.5 AS DOUBLE)) / (df_join + CAST(0.5 AS DOUBLE)))
            * ((tf_join * CAST(2.2 AS DOUBLE))
               / (tf_join + 1.2 * (0.25 + 0.75 * (dl / avgdl)))))
           + (((n_docs - df_hash + CAST(0.5 AS DOUBLE)) / (df_hash + CAST(0.5 AS DOUBLE)))
              * ((tf_hash * CAST(2.2 AS DOUBLE))
                 / (tf_hash + 1.2 * (0.25 + 0.75 * (dl / avgdl)))))
           + (((n_docs - df_scan + CAST(0.5 AS DOUBLE)) / (df_scan + CAST(0.5 AS DOUBLE)))
              * ((tf_scan * CAST(2.2 AS DOUBLE))
                 / (tf_scan + 1.2 * (0.25 + 0.75 * (dl / avgdl)))))
           + (((n_docs - df_vector + CAST(0.5 AS DOUBLE)) / (df_vector + CAST(0.5 AS DOUBLE)))
              * ((tf_vector * CAST(2.2 AS DOUBLE))
                 / (tf_vector + 1.2 * (0.25 + 0.75 * (dl / avgdl)))))
           AS bm25_odds
    FROM d, corpus
    WHERE doc_id < 300
    """,
)
def bm25_odds_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring over the corpus for a fixed 4-term query
    (k1=1.2, b=0.75) — the classic lexical ranker a training-data
    pipeline uses for retrieval-based filtering/decontamination. The
    IDF uses the raw odds form (N−df+0.5)/(df+0.5) WITHOUT the log:
    log is monotone, so ranking is identical, and ln is the one libm
    call whose last-ulp rounding Spark (Java Math.log, 1-ulp license)
    and DuckDB (glibc) do not contractually agree on — every operation
    here (integer adds, same-literal doubles, IEEE *, /) is
    correctly-rounded-identical cross-engine, per the repo determinism
    rules. Term scores sum in fixed left-to-right order in BOTH
    engines (float + is order-sensitive).

    Scale shape: one scan computes per-doc (dl, tf_t); ONE single-row
    corpus aggregate (N, Σdl, df_t) broadcast back as a literal-free
    cross join (BroadcastNestedLoopJoin over one row — the constant-
    carry pattern every certificate row uses); scoring is scan-side
    codegen. No shuffle of the corpus, no UDF; at 100 TB the corpus
    stats are one treeAggregate-shaped reduction.

    Reference basis: extends the text-analysis family (SURVEY §2 LLM
    extensions, tf-idf row) to the BM25 ranking function."""
    docs = load_table(spark, sf_dir, "documents")
    toks = "split(text, ' ')"
    d = docs.select(
        "doc_id",
        F.expr(f"size({toks})").alias("dl"),
        *[
            F.expr(f"size(filter({toks}, x -> x = '{t}'))").alias(f"tf_{t}")
            for t in ("join", "hash", "scan", "vector")
        ],
    )
    corpus = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df_{t}")
            for t in ("join", "hash", "scan", "vector")
        ],
    )

    def term(t: str) -> str:
        return (
            f"(((n_docs - df_{t} + CAST(0.5 AS DOUBLE))"
            f" / (df_{t} + CAST(0.5 AS DOUBLE)))"
            f" * ((tf_{t} * CAST(2.2 AS DOUBLE))"
            f" / (tf_{t} + 1.2 * (0.25 + 0.75 * (dl / avgdl)))))"
        )

    score = " + ".join(term(t) for t in ("join", "hash", "scan", "vector"))
    return (
        d.crossJoin(F.broadcast(corpus))
        .where(F.col("doc_id") < 300)
        .select(
            "doc_id",
            F.col("dl").cast("int").alias("dl"),
            F.col("tf_join").cast("int").alias("tf_join"),
            F.expr(score).alias("bm25_odds"),
        )
    )


# ------------------------------------- interval union coverage --


@query(
    "interval_coverage_sweep",
    oracle="""
    WITH iv AS (
        SELECT user_id, ts, event_id,
               ts + to_microseconds((event_id % 7 + 1) * 60000000) AS te
        FROM events WHERE user_id < 300
    ),
    sweep AS (
        SELECT user_id, ts, te,
               max(te) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_max_end
        FROM iv
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(GREATEST(CAST(0 AS BIGINT), date_diff('microsecond',
                    GREATEST(ts, coalesce(prev_max_end, ts)), te)))
                AS BIGINT) AS covered_us
    FROM sweep
    GROUP BY user_id
    """,
)
def interval_coverage_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage (the sweep-line classic): each event opens
    an interval [ts, ts + (event_id%7+1) minutes]; per user, the total
    covered time merges overlaps EXACTLY — sort by start, running max of
    end over the PRECEDING rows, and each interval contributes only the
    part past that running max. One window + one aggregate replaces the
    quadratic self-join form. All arithmetic is integer microseconds of
    DIFFERENCES (end − clamped start), so the value is timezone-
    representation-proof: an engine-level epoch offset shifts both
    operands equally. The (ts, event_id) window order carries an
    explicit tiebreak — max-over-prefix is order-sensitive under ties
    and engines disagree on default tie order.

    Scale shape: one hash exchange on user_id, then a sort-window and a
    partial+final aggregate inside the same partitioning (Catalyst
    reuses the exchange — no second shuffle). Per-user interval counts
    are bounded; no global sort, no cross join. The 100 TB form is
    identical: coverage is per-key algebra.

    Reference basis: extends the time-series family (gap-fill, sessions,
    TWAP) with interval-union measure — the machine-utilization /
    speaker-overlap / GPU-occupancy query shape."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 300)
    iv = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.expr(
            "ts + make_interval(0, 0, 0, 0, 0, 0, (event_id % 7 + 1) * 60)"
        ).alias("te"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sweep = iv.withColumn("prev_max_end", F.max("te").over(w))
    contrib = F.greatest(
        F.lit(0).cast("long"),
        F.unix_micros("te")
        - F.unix_micros(
            F.greatest("ts", F.coalesce("prev_max_end", "ts"))
        ),
    )
    return sweep.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum(contrib).cast("long").alias("covered_us"),
    )


# ------------------------------------- count-min sketch certificate --


@query(
    "countmin_heavy_hitters",
    oracle="""
    WITH rows_w AS (
        SELECT event_type,
               r.i,
               (('0x' || substring(md5(event_type || '#cms' || r.i), 1, 15))
                   ::BIGINT) % 16 AS bucket
        FROM events, (SELECT unnest([0, 1, 2]) AS i) r
    ),
    counters AS (
        SELECT i, bucket, CAST(count(*) AS BIGINT) AS c
        FROM rows_w GROUP BY i, bucket
    ),
    truth AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
        FROM events GROUP BY event_type
    ),
    keyed AS (
        SELECT t.event_type, t.true_n, r.i,
               (('0x' || substring(md5(t.event_type || '#cms' || r.i), 1, 15))
                   ::BIGINT) % 16 AS bucket
        FROM truth t, (SELECT unnest([0, 1, 2]) AS i) r
    )
    SELECT k.event_type,
           min(k.true_n) AS true_n,
           min(c.c) AS est_n,
           min(c.c) >= min(k.true_n) AS never_underestimates
    FROM keyed k JOIN counters c ON k.i = c.i AND k.bucket = c.bucket
    GROUP BY k.event_type
    """,
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=3 rows × w=16 counters) built distributed,
    then CERTIFIED against exact counts: est(key) = min over rows of the
    counter at that key's bucket, and the sketch's one-sided guarantee
    (never underestimates) is asserted as a graded column. Hashes are
    the repo's cross-engine md5-int (llm/hashing.py) mod w, so Spark and
    the oracle build bit-identical sketches. This is the
    streaming/merge-friendly frequency sketch (counters add under
    union) that complements the HLL/KMV cardinality and GK quantile
    certificate rows.

    Scale shape: the sketch build is ONE partial+final aggregate over
    (row, bucket) — d·w = 48 cells total regardless of input size, the
    textbook map-side-combine shape (each partition folds its rows into
    48 cells before the exchange). The certificate join is over ≤48
    cells × |keys| — broadcast-sized. At 100 TB the sketch is a
    constant-size treeReduce; the exact-truth side exists only for the
    certificate, exactly like the HLL/ANN recall rows.

    Reference basis: extends the sketch family (SURVEY §2 A-extensions:
    kmv_distinct_sketch, hll_bitmap, approx_topk) with the frequency
    sketch."""
    ev = load_table(spark, sf_dir, "events")
    d, w = 3, 16

    def bucket(prefix: str, i: int) -> str:
        return (
            f"cast(conv(substring(md5(concat({prefix}, '#cms', '{i}')),"
            f" 1, 15), 16, 10) as bigint) % {w}"
        )

    # r18 optimization (guide §2.3 decide with small rows): the sketch
    # buckets depend ONLY on event_type, so the per-(row, bucket)
    # counters are exactly sums of the per-type exact counts —
    # c(i, b) = Σ_{type : h_i(type) = b} count(type). One scan of
    # events (the truth aggregate, map-side partial) replaces the
    # second full scan + 3× explode + 3× per-row md5 the old plan paid
    # just to rebuild numbers already present in `truth`. Identical
    # integers: count-of-rows per cell ≡ sum of per-type counts.
    truth = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    keyed = truth.select(
        "event_type",
        "true_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.expr(bucket("event_type", i)).alias("bucket"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("rb"),
    ).select("event_type", "true_n", "rb.i", "rb.bucket")
    # two consumers (counter build + certificate probe) — materialize
    # the |types|×d frame so the events aggregate runs once
    keyed = keyed.localCheckpoint(eager=True)
    counters = keyed.groupBy("i", "bucket").agg(
        F.sum("true_n").cast("long").alias("c")
    )
    return (
        keyed.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("event_type")
        .agg(
            F.min("true_n").alias("true_n"),
            F.min("c").alias("est_n"),
            (F.min("c") >= F.min("true_n")).alias("never_underestimates"),
        )
    )


# --------------------------------------- merkle range digests (sync) --


@query(
    "merkle_range_digest",
    oracle="""
    WITH a AS (
        SELECT o_orderkey % 16 AS part,
               CAST(count(*) AS BIGINT) AS n_a,
               bit_xor(('0x' || substring(md5(
                   CAST(o_orderkey AS VARCHAR) || '|' ||
                   CAST(o_custkey AS VARCHAR) || '|' ||
                   o_orderstatus || '|' || o_orderpriority), 1, 15))
                   ::BIGINT) AS digest_a
        FROM orders GROUP BY 1
    ),
    b AS (
        SELECT o_orderkey % 16 AS part,
               CAST(count(*) AS BIGINT) AS n_b,
               bit_xor(('0x' || substring(md5(
                   CAST(o_orderkey AS VARCHAR) || '|' ||
                   CAST(o_custkey AS VARCHAR) || '|' ||
                   CASE WHEN o_orderkey = 42 THEN 'X'
                        ELSE o_orderstatus END || '|' ||
                   o_orderpriority), 1, 15))::BIGINT) AS digest_b
        FROM orders GROUP BY 1
    )
    SELECT a.part, a.n_a, b.n_b,
           (a.digest_a = b.digest_b) AS digests_match
    FROM a JOIN b ON a.part = b.part
    """,
)
def merkle_range_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level anti-entropy digests — the replica-reconciliation
    primitive: each side folds every row into a 60-bit md5-int and
    XOR-aggregates per partition (XOR is commutative/associative/self-
    inverse, so the digest is row-order-free and two replicas differing
    in ANY row differ in that partition's digest with probability
    1−2^−60). Side B plants one modified row (order 42's status), so
    exactly one partition reports digests_match=false — the query both
    BUILDS the digests and demonstrates the sync decision they drive
    (re-transfer only mismatched partitions). Complements
    table_diff_reconciliation: that row diffs ROWS at full width; this
    one localizes WHICH partition to diff, reading 16 bigints instead
    of a second full-table exchange.

    Scale shape: one partial+final aggregate per side (map-side XOR
    folding to 16 cells per partition before the exchange), then a
    16×16 join — broadcast-trivial. At 100 TB each replica produces its
    digest table with one scan and ships kilobytes; only mismatched
    ranges pay the row-level diff. bit_xor/md5 are JVM codegen.

    Reference basis: ops-surface extension of the CDC/diff family
    (SURVEY §2 extensions: table_diff_reconciliation, cdc rows)."""
    orders = load_table(spark, sf_dir, "orders")
    row_hash = (
        "cast(conv(substring(md5(concat("
        "cast(o_orderkey as string), '|', cast(o_custkey as string), '|', "
        "{status}, '|', o_orderpriority)), 1, 15), 16, 10) as bigint)"
    )
    a = orders.groupBy((F.col("o_orderkey") % 16).alias("part")).agg(
        F.count(F.lit(1)).cast("long").alias("n_a"),
        F.expr(
            f"bit_xor({row_hash.format(status='o_orderstatus')})"
        ).alias("digest_a"),
    )
    b_status = "CASE WHEN o_orderkey = 42 THEN 'X' ELSE o_orderstatus END"
    b = orders.groupBy((F.col("o_orderkey") % 16).alias("part")).agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.expr(f"bit_xor({row_hash.format(status=b_status)})").alias(
            "digest_b"
        ),
    )
    return a.join(b, "part").select(
        "part",
        "n_a",
        "n_b",
        (F.col("digest_a") == F.col("digest_b")).alias("digests_match"),
    )


# --------------------------------------- lag-k autocorrelation (ACF) --


@query(
    "acf_lag_autocorr",
    oracle="""
    WITH lagged AS (
        SELECT event_type, value AS x,
               lag(value, 1) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS y
        FROM events
    ),
    sums AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        FROM lagged WHERE y IS NOT NULL
        GROUP BY event_type
    )
    SELECT event_type, n,
           ((n * sxy) - (sx * sy))
           / (sqrt((n * sxx) - (sx * sx))
              * sqrt((n * syy) - (sy * sy))) AS acf1
    FROM sums
    """,
)
def acf_lag_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation per series (the ACF building block of
    seasonality/trend diagnostics): pair each value with its
    predecessor in (ts, event_id) order, then Pearson r over the pairs.
    The five sufficient sums accumulate in exact DECIMAL(38,6)
    (functions/stable.py scheme: 2-dp inputs → 4-dp products → exact,
    associative, partition-order-proof) and only the FINAL closed form
    runs in doubles — every op (−, ×, IEEE /, sqrt) correctly rounded,
    so the float result is bit-identical cross-engine, the same proof
    correlation_matrix carries. Window tiebreak on event_id: lag under
    ts ties is otherwise engine-dependent.

    Scale shape: one hash exchange on event_type, window + partial+final
    aggregate inside the same partitioning (exchange reused). Sums are
    five decimals per group — constant state. ACF at lag k is the same
    plan with lag(k); at 100 TB this is exchange-once, scan-bound.

    Reference basis: extends the reference's correlation matrix
    (notebook pipeline, SURVEY §2 A6) from cross-series to
    within-series (temporal) correlation."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_type",
        F.col("value").alias("x"),
        F.lag("value", 1).over(w).alias("y"),
    ).where(F.col("y").isNotNull())
    dec = "decimal(38,6)"
    sums = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast("double").alias("syy"),
    )
    return sums.select(
        "event_type",
        "n",
        (
            ((F.col("n") * F.col("sxy")) - (F.col("sx") * F.col("sy")))
            / (
                F.sqrt((F.col("n") * F.col("sxx")) - (F.col("sx") * F.col("sx")))
                * F.sqrt((F.col("n") * F.col("syy")) - (F.col("sy") * F.col("sy")))
            )
        ).alias("acf1"),
    )


# --------------------------------------------- skyline / pareto front --


@query(
    "pareto_frontier_skyline",
    oracle="""
    WITH t AS (
        SELECT o_orderkey, o_totalprice, o_orderdate
        FROM orders WHERE o_orderkey < 4000
    ),
    price_groups AS (
        SELECT o_totalprice AS price, max(o_orderdate) AS gd
        FROM t GROUP BY 1
    ),
    strict_prefix AS (
        SELECT price,
               max(gd) OVER (
                   ORDER BY price
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS best_date_cheaper
        FROM price_groups
    )
    SELECT t.o_orderkey,
           (s.best_date_cheaper IS NULL
            OR t.o_orderdate >= s.best_date_cheaper) AS on_frontier
    FROM t JOIN strict_prefix s ON t.o_totalprice = s.price
    """,
)
def pareto_frontier_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): an order is dominated iff some
    STRICTLY cheaper order has a STRICTLY later date; the frontier is
    computed in one pass over the distinct-price groups — group to
    (price, max date), running max of date over the strictly-preceding
    price groups (ROWS frame over distinct groups = strict dominance,
    sidestepping the RANGE-frame-exclusive-of-current gap in both
    engines), then each order compares its date against the best date
    among cheaper orders. Replaces the O(n²) NOT-EXISTS dominance scan
    with sort+prefix-max — the standard 2-D skyline algorithm,
    expressed relationally.

    Scale shape: one aggregate to distinct prices (partial combine), a
    window over the price groups (far smaller than the fact side), and
    one join back on price — the join key is the window side's own
    grouping key so AQE broadcasts it when small. No cross join
    anywhere. Higher-dimension skylines decompose into the same
    prefix-extrema passes per sort order.

    Reference basis: new query shape for the ordering/top-k family
    (SURVEY §2.6) — frontier selection rather than single-key top-k."""
    t = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < 4000
    ).select("o_orderkey", "o_totalprice", "o_orderdate")
    groups = t.groupBy(F.col("o_totalprice").alias("price")).agg(
        F.max("o_orderdate").alias("gd")
    )
    w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    strict = groups.select(
        "price", F.max("gd").over(w).alias("best_date_cheaper")
    )
    return t.join(
        F.broadcast(strict), t.o_totalprice == strict.price
    ).select(
        "o_orderkey",
        (
            F.col("best_date_cheaper").isNull()
            | (F.col("o_orderdate") >= F.col("best_date_cheaper"))
        ).alias("on_frontier"),
    )


# ------------------------------------------------ geospatial family --
# The synthetic tables carry no coordinates, so sites and points derive
# deterministic integer micro-degree positions from their keys via the
# cross-engine md5-int (the same derived-data pattern as the partsupp
# view and the synthetic media blobs) — the SAME formula in the Spark
# plan and the oracle CTE, so inputs remain the driver parquet only.
# Integer micro-degrees keep every distance/binning step exact.


def _spark_udeg(expr: str, salt: str) -> str:
    return (
        f"(cast(conv(substring(md5(concat('geo{salt}', "
        f"cast({expr} as string))), 1, 15), 16, 10) as bigint)"
        f" % 180000001) - 90000000"
    )


def _sql_udeg(expr: str, salt: str) -> str:
    return (
        f"((('0x' || substring(md5('geo{salt}' || "
        f"CAST({expr} AS VARCHAR)), 1, 15))::BIGINT)"
        f" % 180000001) - 90000000"
    )


@query(
    "geo_nearest_site_join",
    oracle=f"""
    WITH sites AS (
        SELECT s_suppkey AS site_id,
               {_sql_udeg('s_suppkey', 'lat')} AS slat,
               {_sql_udeg('s_suppkey', 'lon')} AS slon
        FROM supplier WHERE s_suppkey < 40
    ),
    pts AS (
        SELECT event_id,
               {_sql_udeg('event_id', 'lat')} AS plat,
               {_sql_udeg('event_id', 'lon')} AS plon
        FROM events WHERE event_id < 5000
    ),
    scored AS (
        SELECT p.event_id, s.site_id,
               (p.plat - s.slat) * (p.plat - s.slat)
               + (p.plon - s.slon) * (p.plon - s.slon) AS d2
        FROM pts p, sites s
    ),
    best AS (
        SELECT event_id, min(d2) AS best_d2 FROM scored GROUP BY 1
    )
    SELECT s.event_id,
           min(s.site_id) AS nearest_site,
           min(b.best_d2) AS best_d2
    FROM scored s JOIN best b
      ON s.event_id = b.event_id AND s.d2 = b.best_d2
    GROUP BY s.event_id
    """,
)
def geo_nearest_site_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-site assignment — the geospatial enrichment join (assign
    each point to its closest facility/station): points × a broadcast
    site dimension, squared planar distance in integer micro-degrees
    (exact bigint algebra, no libm trig — the haversine refinement only
    reorders near-ties at continental scale and would cost cross-engine
    sin/cos parity), argmin per point via a lexicographic (d2, site_id)
    struct-min so distance ties break deterministically toward the
    smaller site id; the oracle computes the identical argmin by
    min-join-back.

    Scale shape: the site dimension broadcasts (dimensions are small by
    nature — the reference's station lookup is the same shape) and the
    argmin folds in a partial+final aggregate keyed on the point id —
    the scored pairs never shuffle at |sites| replication. With large
    site sets the geohash_bucket_stats cell id becomes the pre-filter
    (points only score sites in neighboring cells) — the same
    bucket-pruning shape as the LSH/IVF similarity rows.

    Reference basis: SURVEY §2 J2/J3 (station dict-lookup enrichment)
    generalized to metric nearest-neighbor."""
    sites = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") < 40)
        .select(
            F.col("s_suppkey").alias("site_id"),
            F.expr(_spark_udeg("s_suppkey", "lat")).alias("slat"),
            F.expr(_spark_udeg("s_suppkey", "lon")).alias("slon"),
        )
    )
    pts = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") < 5000)
        .select(
            "event_id",
            F.expr(_spark_udeg("event_id", "lat")).alias("plat"),
            F.expr(_spark_udeg("event_id", "lon")).alias("plon"),
        )
    )
    scored = pts.crossJoin(F.broadcast(sites)).select(
        "event_id",
        "site_id",
        (
            (F.col("plat") - F.col("slat")) * (F.col("plat") - F.col("slat"))
            + (F.col("plon") - F.col("slon"))
            * (F.col("plon") - F.col("slon"))
        ).alias("d2"),
    )
    return (
        scored.groupBy("event_id")
        .agg(F.min(F.struct("d2", "site_id")).alias("m"))
        .select(
            "event_id",
            F.col("m.site_id").alias("nearest_site"),
            F.col("m.d2").alias("best_d2"),
        )
    )


@query(
    "geohash_bucket_stats",
    oracle=f"""
    WITH pts AS (
        SELECT event_id, user_id,
               {_sql_udeg('event_id', 'lat')} AS plat,
               {_sql_udeg('event_id', 'lon')} AS plon
        FROM events
    ),
    q AS (
        SELECT event_id, user_id,
               ((plat + 90000000) * 16) // 180000001 AS qlat,
               ((plon + 90000000) * 16) // 180000001 AS qlon
        FROM pts
    ),
    cells AS (
        SELECT event_id, user_id,
               ((qlat & 1) * 2 + (qlon & 1))
               + (((qlat >> 1) & 1) * 2 + ((qlon >> 1) & 1)) * 4
               + (((qlat >> 2) & 1) * 2 + ((qlon >> 2) & 1)) * 16
               + (((qlat >> 3) & 1) * 2 + ((qlon >> 3) & 1)) * 64 AS cell
        FROM q
    )
    SELECT cell,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM cells GROUP BY cell
    """,
)
def geohash_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash-style spatial binning: quantize lat/lon micro-degrees to
    4 bits each and INTERLEAVE the bits (Z-order / Morton code — the
    actual geohash construction) into an 8-bit cell id, then per-cell
    density stats. Bit interleaving makes prefix truncation = spatial
    zoom-out, which is why geohash cells serve as partition keys,
    join-pruning buckets (geo_nearest_site_join's scale path), and
    range-readable spatial layout (the same locality argument as the
    zorder_layout_scan row, here in its geographic home). Pure integer
    bit algebra — exact cross-engine.

    Scale shape: scan-side codegen to the cell id, one partial+final
    aggregate on it; count(DISTINCT user) expands to the standard
    two-phase distinct. Cell ids are uniform under the md5-derived
    coordinates, so no skew; real-world hot cells would take the
    salting path skewed_agg_salted grades.

    Reference basis: the reference is a weather-station system (GeoJSON
    coordinates per station, sources/rest.py) — this is the spatial
    aggregation its data model implies, over derived coordinates."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        "user_id",
        F.expr(_spark_udeg("event_id", "lat")).alias("plat"),
        F.expr(_spark_udeg("event_id", "lon")).alias("plon"),
    )
    q = pts.select(
        "event_id",
        "user_id",
        F.expr("(plat + 90000000) * 16 DIV 180000001").alias("qlat"),
        F.expr("(plon + 90000000) * 16 DIV 180000001").alias("qlon"),
    )
    cells = q.select(
        "user_id",
        F.expr(
            "((qlat & 1) * 2 + (qlon & 1))"
            " + (((qlat >> 1) & 1) * 2 + ((qlon >> 1) & 1)) * 4"
            " + (((qlat >> 2) & 1) * 2 + ((qlon >> 2) & 1)) * 16"
            " + (((qlat >> 3) & 1) * 2 + ((qlon >> 3) & 1)) * 64"
        ).alias("cell"),
    )
    return cells.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# ---------------------------- Python DataSource filter pushdown --


@query(
    "python_datasource_filter_pushdown",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id
    FROM events
    WHERE event_id >= 120 AND event_id < 870 AND event_type <> 'click'
    GROUP BY event_type
    """,
)
def python_datasource_filter_pushdown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Python DataSource FILTER PUSHDOWN (Spark 4.1
    DataSourceReader.pushFilters): the events_pushdown source absorbs
    the event_id range predicates and prunes whole input partitions
    before any row is read, while the event_type predicate — which it
    declines — comes back to Spark to apply post-scan (the two-sided
    pushFilters contract). The query ASSERTS the pruning physically
    happened: the reader drops one marker file per partition actually
    read, and with rows_per_part=100 the [120, 870) range must touch
    exactly 8 partitions regardless of scale factor — at sf0.01 that is
    8 of 100 partitions (92% of the scan skipped), the number a file
    count proves the way the layout rows prove pruning via inodes. Also
    asserts the absorbed-bounds manifest, and that partition edges are
    CLIPPED to the bounds (rows outside the accepted range must never
    reach Spark — Spark does not re-apply filters the source accepted).

    Scale shape: this IS the scale lever — predicate transport into the
    source turns a full-corpus scan into O(selected range) IO; at
    100 TB a time/id-range query over a custom source (REST backlog,
    object-store manifest) reads only matching shards. The conf gate
    (spark.sql.python.filterPushdown.enabled) is set at call time, the
    session-self-adapting pattern every query uses via
    catalog.ensure_session_confs.

    Reference basis: the reference's paginated ingest (dmi wind.py)
    re-fetches full pages and filters client-side; this is the
    DataSource-native upgrade of SURVEY §2 S11."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from sparkksqldbbenchmark_spark.sources.pyds import (
        register_python_sources,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_python_sources(spark)
    scratch = _tempfile.mkdtemp(prefix="pushdown_")
    df = (
        spark.read.format("events_pushdown")
        .option("path", f"{sf_dir}/events.parquet")
        .option("scratch", scratch)
        .option("rows_per_part", "100")
        .load()
        .where(
            (F.col("event_id") >= 120)
            & (F.col("event_id") < 870)
            & (F.col("event_type") != "click")
        )
    )
    out = df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .cast("double")
        .alias("total_value"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
    )
    rows = out.collect()  # materialize so the markers exist to audit

    markers = sorted(
        f for f in _os.listdir(scratch) if f.endswith(".marker")
    )
    if len(markers) != 8:
        raise AssertionError(
            f"pushdown pruning failed: {len(markers)} partitions read, "
            f"expected 8 for [120, 870) at rows_per_part=100: {markers}"
        )
    with open(_os.path.join(scratch, "_pushed.json")) as fh:
        pushed = _json.load(fh)
    if (pushed["lo"], pushed["hi"]) != (120, 870):
        raise AssertionError(f"absorbed bounds wrong: {pushed}")
    spans = [
        tuple(int(x) for x in open(
            _os.path.join(scratch, m)
        ).read().strip().split(":"))
        for m in markers
    ]
    if min(s[0] for s in spans) != 120 or max(s[1] for s in spans) != 870:
        raise AssertionError(f"partition edges not clipped: {spans}")

    return spark.createDataFrame(rows, out.schema)


# ------------------------------------------ Benford digit audit --


@query(
    "benford_leading_digit",
    oracle="""
    WITH cents AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(38,6)) * 100 AS BIGINT)
               AS c
        FROM orders
    ),
    digits AS (
        SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INTEGER)
               AS digit
        FROM cents
    ),
    counted AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counted)
    SELECT digit, n,
           CAST((n * 1000000) // t AS BIGINT) AS share_ppm,
           CAST(CASE digit
                WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
                WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
                WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757
                END AS BIGINT) AS benford_ppm,
           CAST(abs((n * 1000000) // t - CASE digit
                WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
                WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
                WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757
                END) AS BIGINT) AS dev_ppm
    FROM counted, tot
    """,
)
def benford_leading_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of a monetary column — the data-quality /
    fraud screen: distribution of leading significant digits vs the
    Benford expectation log10(1+1/d). Everything compared is INTEGER:
    prices recover their exact cent value through DECIMAL(38,6)
    (2-dp inputs, functions/stable.py), the leading digit comes from
    the bigint's decimal string (leading significant digit is invariant
    under the ×100 — no log10, no float formatting, both engines print
    integers identically), shares are integer ppm by floor division,
    and the Benford expectations are precomputed ppm literals, so the
    deviation column is exact. (The chi-square variant just squares
    these deviations; ppm deviations are the auditable primitive.)

    Scale shape: scan-side digit extraction, one 9-group aggregate, a
    1-row total broadcast back — constant-size everything past the
    scan; the same shape at 100 TB.

    Reference basis: extends the data-quality family (validity_filter,
    dirty_data_parsing, analyze_column_stats) with a distributional
    audit."""
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        (F.col("o_totalprice").cast("decimal(38,6)") * 100)
        .cast("long")
        .alias("c")
    )
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    counted = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = counted.agg(F.sum("n").cast("long").alias("t"))
    benford = (
        "CASE digit "
        "WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939 "
        "WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947 "
        "WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757 END"
    )
    return counted.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.expr("n * 1000000 DIV t").alias("share_ppm"),
        F.expr(f"CAST({benford} AS BIGINT)").alias("benford_ppm"),
        F.expr(f"abs(n * 1000000 DIV t - {benford})").alias("dev_ppm"),
    )


# ----------------------------------------- peak concurrency sweep --


@query(
    "peak_concurrency_sweep",
    oracle="""
    WITH iv AS (
        SELECT user_id, ts,
               ts + to_microseconds((event_id % 7 + 1) * 60000000) AS te
        FROM events WHERE user_id < 300
    ),
    endpoints AS (
        SELECT user_id, ts AS p, 1 AS d FROM iv
        UNION ALL
        SELECT user_id, te AS p, -1 AS d FROM iv
    ),
    running AS (
        SELECT user_id,
               sum(d) OVER (
                   PARTITION BY user_id ORDER BY p, d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS conc
        FROM endpoints
    )
    SELECT user_id,
           CAST(max(conc) AS BIGINT) AS peak_concurrency
    FROM running GROUP BY user_id
    """,
)
def peak_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency (the other half of sweep-line algebra next to
    interval_coverage_sweep): explode each interval to a +1 start and a
    −1 end endpoint via UNION ALL (no generator needed — the relational
    spelling both engines share), running-sum per user in (time, delta)
    order, and the max prefix value is the peak number of simultaneously
    open intervals. The delta tiebreak orders −1 before +1 at equal
    instants, so touching intervals do not count as concurrent — a
    semantic choice that must be explicit or engines disagree under
    ties; the max prefix is invariant to ordering WITHIN an equal
    (time, delta) class, so no further tiebreak is needed. Pure integer
    arithmetic.

    Scale shape: 2× row expansion at the scan, one hash exchange on
    user_id, window + aggregate in the same partitioning. This is the
    occupancy / max-concurrent-sessions / GPU-slot-peak query; the
    global (un-keyed) variant takes the repo's chunked prefix-sum
    machinery (deterministic_corpus_shuffle) instead of a global
    window.

    Reference basis: sweep-line sibling of interval_coverage_sweep;
    SURVEY time-series family extension."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 300)
    iv = ev.select(
        "user_id",
        "ts",
        F.expr(
            "ts + make_interval(0, 0, 0, 0, 0, 0, (event_id % 7 + 1) * 60)"
        ).alias("te"),
    )
    endpoints = iv.select(
        "user_id", F.col("ts").alias("p"), F.lit(1).alias("d")
    ).unionByName(
        iv.select("user_id", F.col("te").alias("p"), F.lit(-1).alias("d"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("p", "d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = endpoints.withColumn("conc", F.sum("d").over(w))
    return running.groupBy("user_id").agg(
        F.max("conc").cast("long").alias("peak_concurrency")
    )


# -------------------------------------------- weighted median --


@query(
    "weighted_median_grouped",
    oracle="""
    WITH t AS (
        SELECT event_type, value, event_id,
               CAST(user_id % 5 + 1 AS BIGINT) AS w
        FROM events
    ),
    cum AS (
        SELECT event_type, value, w,
               sum(w) OVER (
                   PARTITION BY event_type ORDER BY value, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cw,
               sum(w) OVER (PARTITION BY event_type) AS tw
        FROM t
    )
    SELECT event_type,
           CAST(min(tw) AS BIGINT) AS total_weight,
           min(CASE WHEN cw * 2 >= tw THEN value END) AS weighted_median
    FROM cum GROUP BY event_type
    """,
)
def weighted_median_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per group — the importance-weighted robust center
    (sample weights, mixture weights, token counts as weights): sort
    each group by value, accumulate weights, and the weighted median is
    the first value whose cumulative weight reaches half the total.
    Lower-weighted-median convention (cw·2 ≥ tw picks the lower value
    of an even split) stated explicitly — engines' own
    percentile_cont/disc families disagree on weighted variants, which
    is why the defining cumulative form is the graded one. Integer
    weights and comparisons; the median itself is an INPUT value
    (2-dp), never computed arithmetic — all exact.

    Scale shape: one hash exchange on the group key; both windows (the
    running sum and the group total) share the same partitioning, so
    Catalyst plans one exchange + one sort. The min-over-qualifying
    trick turns threshold selection into a plain aggregate — no second
    join-back pass. Generalizes to any weighted quantile by replacing
    the 2 with the quantile's ratio.

    Reference basis: percentile family extension (A4, nearest-rank /
    GK / lerp rows) to weighted form."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        "value",
        "event_id",
        (F.col("user_id") % 5 + 1).cast("long").alias("w"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("event_type")
    cum = t.select(
        "event_type",
        "value",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wtot).alias("tw"),
    )
    return cum.groupBy("event_type").agg(
        F.min("tw").cast("long").alias("total_weight"),
        F.min(
            F.when(F.col("cw") * 2 >= F.col("tw"), F.col("value"))
        ).alias("weighted_median"),
    )


# -------------------------------------- two-sample KS (binned) --


@query(
    "binned_ks_statistic",
    oracle="""
    WITH binned AS (
        SELECT CAST(floor(value) AS BIGINT) AS bin,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n2
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY 1
    ),
    cum AS (
        SELECT bin,
               sum(n1) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS c1,
               sum(n2) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS c2,
               sum(n1) OVER () AS t1,
               sum(n2) OVER () AS t2
        FROM binned
    )
    SELECT CAST(min(t1) AS BIGINT) AS n_click,
           CAST(min(t2) AS BIGINT) AS n_view,
           CAST(max(abs(t2 * c1 - t1 * c2)) AS BIGINT) AS d_scaled,
           CAST(max(abs(t2 * c1 - t1 * c2)) AS DOUBLE)
               / (CAST(min(t1) AS DOUBLE) * min(t2)) AS ks_d
    FROM cum
    """,
)
def binned_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the click and view
    value distributions, in BINNED form: quantize values to unit bins
    (floor of a 2-dp double is exact), cumulate both histograms over the
    bin axis, and D = max |F̂₁−F̂₂| — computed as the exact INTEGER
    max |t₂·c₁ − t₁·c₂| with one IEEE division at the end, so the float
    is bit-identical cross-engine. Binning is what makes KS scale: the
    exact pooled-sort form needs a global sort of both samples, while
    the binned form's window runs over |bins| rows (bounded, here
    ≤~100) after a partial-aggregated histogram — the same
    bounded-frame argument the quality-CDF row makes. Distribution
    drift between two sources/snapshots is THE training-data mixture
    monitoring test.

    Scale shape: one partial+final histogram aggregate (bins are the
    only exchange key), a single-partition window over the bounded bin
    table, a 1-row result. At 100 TB nothing past the scan grows.

    Reference basis: extends the distribution-statistics family
    (percentiles, winsorized, CDF normalize) with a two-sample test."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    binned = ev.groupBy(
        F.floor("value").cast("long").alias("bin")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    cum = binned.select(
        F.sum("n1").over(wc).alias("c1"),
        F.sum("n2").over(wc).alias("c2"),
        F.sum("n1").over(wt).alias("t1"),
        F.sum("n2").over(wt).alias("t2"),
    )
    return cum.agg(
        F.min("t1").cast("long").alias("n_click"),
        F.min("t2").cast("long").alias("n_view"),
        F.max(F.abs(F.col("t2") * F.col("c1") - F.col("t1") * F.col("c2")))
        .cast("long")
        .alias("d_scaled"),
        (
            F.max(
                F.abs(F.col("t2") * F.col("c1") - F.col("t1") * F.col("c2"))
            ).cast("double")
            / (F.min("t1").cast("double") * F.min("t2"))
        ).alias("ks_d"),
    )


# ------------------------------------------------ Gini coefficient --


@query(
    "gini_concentration_by_type",
    oracle="""
    WITH t AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(38,6)) * 100 AS BIGINT) AS xc,
               event_id
        FROM events
    ),
    ranked AS (
        SELECT event_type, xc,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY xc, event_id
               ) AS i
        FROM t
    ),
    sums AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xc) AS BIGINT) AS s0,
               CAST(sum(i * xc) AS BIGINT) AS s1
        FROM ranked GROUP BY event_type
    )
    SELECT event_type, n,
           2 * s1 - (n + 1) * s0 AS gini_num,
           n * s0 AS gini_den,
           CAST(2 * s1 - (n + 1) * s0 AS DOUBLE) / (n * s0) AS gini
    FROM sums
    """,
)
def gini_concentration_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gini concentration per group — the inequality/imbalance measure
    (value concentration per source, token-budget share skew): sort each
    group's values ascending, and G = (2·Σi·xᵢ − (n+1)·Σxᵢ)/(n·Σxᵢ)
    (the closed rank form of the Lorenz-curve area). Values recover
    exact cents through DECIMAL(38,6), ranks come from row_number with
    an event_id tiebreak, and the numerator/denominator are emitted as
    EXACT integers alongside the one-division float — Σi·x is invariant
    to rank permutation among equal values, so the tiebreak only pins
    engine row order, not the result.

    Scale shape: one hash exchange on the group key, rank window +
    aggregate in the same partitioning. Integer products stay in
    bigint range (rank ≤ group rows, cents ≤ 10⁴; sf0.1 ⇒ Σi·x ≈
    10⁹·10⁴ = 10¹³ ≪ 2⁶³); at larger groups the same formula carries in
    DECIMAL(38,0).

    Reference basis: distribution-statistics family extension — the
    concentration complement of the winsorized/CDF rows."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        (F.col("value").cast("decimal(38,6)") * 100)
        .cast("long")
        .alias("xc"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("xc", "event_id")
    ranked = t.select(
        "event_type", "xc", F.row_number().over(w).alias("i")
    )
    sums = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xc").cast("long").alias("s0"),
        F.sum(F.col("i") * F.col("xc")).cast("long").alias("s1"),
    )
    return sums.select(
        "event_type",
        "n",
        (2 * F.col("s1") - (F.col("n") + 1) * F.col("s0")).alias(
            "gini_num"
        ),
        (F.col("n") * F.col("s0")).alias("gini_den"),
        (
            (2 * F.col("s1") - (F.col("n") + 1) * F.col("s0")).cast(
                "double"
            )
            / (F.col("n") * F.col("s0"))
        ).alias("gini"),
    )


# --------------------------------------- Markov transition matrix --


@query(
    "markov_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS to_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS from_type
        FROM events
    ),
    pairs AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE from_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           CAST((n * 1000000) // sum(n) OVER (PARTITION BY from_type)
                AS BIGINT) AS p_ppm
    FROM pairs
    """,
)
def markov_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral-sequence statistic (and the n-gram LM's
    state-level cousin): lag each user's (ts, event_id)-ordered event
    stream one step, count (from, to) pairs, and normalize each row of
    the matrix to integer ppm by floor division (exact — no float
    probability crosses the comparator). The lag window carries the
    event_id tiebreak; without it the pair counts under equal
    timestamps are engine-dependent.

    Scale shape: one hash exchange on user_id for the lag window, then
    the pair count re-aggregates to |types|² = 25 cells (partial
    map-side combine does almost all of it), and the row normalization
    is a window over those 25 cells. Transition matrices of any
    sequence corpus (user journeys, token-class streams) take exactly
    this plan.

    Reference basis: sequence-analytics extension of the sessionize /
    funnel family."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    ).where(F.col("from_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wrow = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.sum("n").over(wrow).alias("_den"),
    ).select(
        "from_type",
        "to_type",
        "n",
        # integer floor division (DIV), matching the oracle's `//` —
        # double `/` + cast can round across the integer boundary
        F.expr("n * 1000000 DIV _den").cast("long").alias("p_ppm"),
    )


# ------------------------------ UDTF with dynamic schema (analyze) --


@query(
    "udtf_dynamic_schema_analyze",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS l
        FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           l[1] AS tok_0,
           l[2] AS tok_1,
           l[3] AS tok_2,
           CAST(len(l) AS INTEGER) AS n_tokens
    FROM t
    """,
)
def udtf_dynamic_schema_analyze(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Python UDTF with a static ``analyze()`` — the DYNAMIC-SCHEMA half
    of the UDTF contract (udtf_chunk_documents graded the fixed-schema
    half): the output columns tok_0..tok_{k-1} are computed by
    analyze() from the CONSTANT argument k at plan time, so one UDTF
    serves any width without a wrapper per shape — Spark calls
    analyze() during resolution, pins the schema, and dispatches eval()
    against it. k=3 here; the oracle spells the same projection
    statically. Emitted tokens are plain strings (container gate
    respected by construction).

    Scale shape: UDTFs run per-partition (Arrow-batched in/out), no
    shuffle introduced; the lateral-join plan is a narrow Generate.
    Dynamic width is a PLAN-time decision — zero per-row cost.

    Reference basis: completes the UDTF API surface (SURVEY §2.10
    extension rows)."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructType,
    )
    from pyspark.sql.udtf import AnalyzeResult

    class LeadTokens:
        @staticmethod
        def analyze(row, k):
            if not k.isConstantExpression:
                raise ValueError("k must be a constant")
            width = int(k.value)
            schema = StructType().add("doc_id", LongType())
            for i in range(width):
                schema = schema.add(f"tok_{i}", StringType())
            schema = schema.add("n_tokens", IntegerType())
            return AnalyzeResult(schema=schema)

        def eval(self, row, k: int):
            toks = (row["text"] or "").split(" ")
            yield (
                row["doc_id"],
                *[toks[i] if i < len(toks) else None for i in range(k)],
                len(toks),
            )

    spark.udtf.register("lead_tokens", udtf(LeadTokens))
    load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 200
    ).createOrReplaceTempView("docs_for_lead")
    return spark.sql(
        """
        SELECT t.*
        FROM docs_for_lead d,
             LATERAL lead_tokens(
                 named_struct('doc_id', d.doc_id, 'text', d.text), 3) t
        """
    )


# ----------------------------------- Arrow-optimized scalar UDF --


@query(
    "arrow_scalar_udf_suite",
    oracle="""
    SELECT doc_id,
           CAST(list_sum(list_transform(
               range(1, least(len(text), 40) + 1),
               i -> unicode(substring(text, i, 1)) * ((i - 1) % 31 + 1)
           )) AS BIGINT) AS pos_weighted_sum,
           reverse(upper(substring(text, 1, 12))) AS sig12
    FROM documents WHERE doc_id < 400
    """,
)
def arrow_scalar_udf_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDFs (``udf(..., useArrow=True)``,
    Spark 4) — the LAST UDF flavor in the surface matrix (pandas_udf,
    applyInPandas, mapInPandas, mapInArrow, UDTF are all graded):
    per-row Python logic shipped over Arrow batches instead of pickled
    rows, here a position-weighted codepoint checksum (exact integer
    fold) and a string signature, each replayed relationally by the
    oracle so the Arrow serialization path is graded value-for-value
    (codepoints, not bytes — the char-vs-byte distinction the
    char_octet_length row pins).

    Honest cost note (the udtf row's discipline): a builtin-expression
    twin IS the production path for exactly this logic — the scan-side
    oracle SQL is that twin. The graded surface matters because real
    per-row Python (tokenizers, validators) has no builtin spelling;
    Arrow batching is what keeps it ~10× over pickled UDFs.

    Scale shape: scan-side map, zero shuffles; Arrow batch size bounds
    executor Python memory."""
    from pyspark.sql.functions import udf

    @udf("long", useArrow=True)
    def pos_weighted_sum(text: str):
        if text is None:
            return None
        return sum(
            ord(c) * (i % 31 + 1) for i, c in enumerate(text[:40])
        )

    @udf("string", useArrow=True)
    def sig12(text: str):
        if text is None:
            return None
        return text[:12].upper()[::-1]

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 400
    )
    return docs.select(
        "doc_id",
        pos_weighted_sum("text").alias("pos_weighted_sum"),
        sig12("text").alias("sig12"),
    )


# ----------------------------- cogroup().applyInPandas reconcile --


@query(
    "cogroup_applyinpandas_reconcile",
    oracle="""
    WITH a AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_a,
               CAST(sum(CAST(CAST(value AS DECIMAL(38,6)) * 100
                    AS BIGINT)) AS BIGINT) AS cents_a
        FROM events WHERE event_id < 8000 GROUP BY event_type
    ),
    b AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_b,
               CAST(sum(CAST(CAST(value AS DECIMAL(38,6)) * 100
                    AS BIGINT)) AS BIGINT) AS cents_b
        FROM events WHERE event_id >= 2000 GROUP BY event_type
    )
    SELECT coalesce(a.event_type, b.event_type) AS event_type,
           coalesce(n_a, 0) AS n_a,
           coalesce(n_b, 0) AS n_b,
           coalesce(cents_a, 0) - coalesce(cents_b, 0) AS cents_diff
    FROM a FULL OUTER JOIN b ON a.event_type = b.event_type
    """,
)
def cogroup_applyinpandas_reconcile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``cogroup().applyInPandas`` — the two-sided grouped-map API (the
    one grouped-Python surface not yet graded): two snapshots of the
    events table are cogrouped per key and a single Python function
    receives BOTH sides' pandas frames to reconcile (row counts and an
    exact cent-sum delta — int64 cents via round(value·100), which is
    exact for 2-dp doubles). The oracle replays it as two grouped CTEs
    full-outer joined: cogroup ≡ co-partitioned full outer join at the
    GROUP grain, which is precisely what the API saves you from hand-
    writing when the per-key logic grows imperative (drift explanations,
    per-key model fits).

    Scale shape: both sides hash-exchange once on the key — same as the
    join they replace; per-key pandas frames bound executor memory by
    the largest single key (the applyInPandas caveat robust_zscore
    documents). Arrow moves the batches.

    Reference basis: completes SURVEY §2.10's grouped-Python matrix
    (applyInPandas / mapInPandas / mapInArrow / UDTF / arrow-UDF all
    graded)."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    a = ev.where(F.col("event_id") < 8000).select("event_type", "value")
    b = ev.where(F.col("event_id") >= 2000).select("event_type", "value")

    def reconcile(key, pa_df: pd.DataFrame, pb_df: pd.DataFrame):
        ca = int((pa_df["value"] * 100).round().astype("int64").sum())
        cb = int((pb_df["value"] * 100).round().astype("int64").sum())
        return pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_a": [len(pa_df)],
                "n_b": [len(pb_df)],
                "cents_diff": [ca - cb],
            }
        )

    return (
        a.groupBy("event_type")
        .cogroup(b.groupBy("event_type"))
        .applyInPandas(
            reconcile,
            "event_type string, n_a long, n_b long, cents_diff long",
        )
    )


# ---------------------------------- applyInArrow group statistics --


@query(
    "applyinarrow_group_stats",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id,
           CAST(sum(CAST(CAST(value AS DECIMAL(38,6)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM events GROUP BY event_type
    """,
)
def applyinarrow_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``groupBy().applyInArrow`` — the zero-pandas grouped-map variant
    (Spark 4): the Python function receives each group as a RAW
    pyarrow.Table and answers with one, so columnar kernels
    (pyarrow.compute) run without the Arrow→pandas→Arrow double
    conversion applyInPandas pays — the right grouped-Python surface
    when the logic is expressible in Arrow kernels but not in Spark
    expressions. Cent sums round value·100 to int64 (exact for 2-dp
    doubles, same contract as the cogroup row); the oracle is the
    plain grouped aggregate.

    Scale shape: one hash exchange on the key; per-group Arrow tables
    bound memory by the largest key. The honest note: for THESE stats
    the builtin aggregate (the oracle) is the production plan — the
    surface is graded for the kernels that have no builtin twin
    (dictionary ops, run-end encodings, tensor reductions).

    Reference basis: SURVEY §2.10 grouped-Python matrix, Arrow-native
    entry."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )

    def stats(tbl):
        import pyarrow as pa
        import pyarrow.compute as pc

        cents = pc.cast(
            pc.round(pc.multiply(tbl.column("value"), 100.0)), "int64"
        )
        return pa.table(
            {
                "event_type": [tbl.column("event_type")[0].as_py()],
                "n": [tbl.num_rows],
                "min_id": [pc.min(tbl.column("event_id")).as_py()],
                "max_id": [pc.max(tbl.column("event_id")).as_py()],
                "sum_cents": [pc.sum(cents).as_py()],
            }
        )

    return ev.groupBy("event_type").applyInArrow(
        stats,
        "event_type string, n long, min_id long, max_id long, "
        "sum_cents long",
    )


# --------------------------------- conversation render w/ budget --


@query(
    "conversation_render_budget",
    oracle="""
    WITH msgs AS (
        SELECT user_id, ts, event_id,
               event_type || ' ' ||
               CAST(CAST(CAST(value AS DECIMAL(38,6)) * 100 AS BIGINT)
                    AS VARCHAR) AS msg
        FROM events WHERE user_id < 100
    ),
    budgeted AS (
        SELECT user_id, ts, event_id, msg,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS turn
        FROM msgs
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_turns_kept,
           string_agg(msg, chr(10) ORDER BY ts, event_id) AS prompt
    FROM budgeted
    WHERE turn <= 6
    GROUP BY user_id
    """,
)
def conversation_render_budget(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conversation/prompt assembly under a turn budget — the
    chat-template rendering step of an LLM data pipeline: each user's
    events become ordered turns ("type cents" lines, exact integer
    cents so the rendered text is cross-engine byte-identical), the
    per-conversation budget keeps the FIRST 6 turns (row_number cut in
    (ts, event_id) order — truncation must be deterministic or two
    renders of one corpus differ), and the kept turns serialize to one
    newline-joined prompt string per conversation. Spark spells the
    ordered serialization as sort_array(collect_list(struct(...)))
    → transform → array_join — the order-safe distributed listagg
    (collect_list alone is partition-order-nondeterministic); the
    oracle uses DuckDB's ORDER BY-qualified string_agg.

    Scale shape: one hash exchange on the conversation key; the window
    cut and the collect run in the same partitioning. Per-conversation
    state is bounded by the budget (6 turns), not the raw turn count —
    the cut happens BEFORE the collect, which is what keeps reducer
    memory flat when one conversation has a million events.

    Reference basis: LLM-pipeline extension — the packing/selection
    family's missing front step (render → then sequence_packing)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 100)
    msgs = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.concat_ws(
            " ",
            F.col("event_type"),
            (F.col("value").cast("decimal(38,6)") * 100)
            .cast("long")
            .cast("string"),
        ).alias("msg"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    kept = msgs.withColumn("turn", F.row_number().over(w)).where(
        F.col("turn") <= 6
    )
    return kept.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "msg"))
                ),
                lambda x: x["msg"],
            ),
            "\n",
        ).alias("prompt"),
    )


# ----------------------------- global sweep via chunked prefix sum --


@query(
    "global_peak_concurrency",
    oracle="""
    WITH iv AS (
        SELECT ts,
               ts + to_microseconds((event_id % 7 + 1) * 60000000) AS te
        FROM events
    ),
    endpoints AS (
        SELECT ts AS p, 1 AS d FROM iv
        UNION ALL
        SELECT te AS p, -1 AS d FROM iv
    ),
    running AS (
        SELECT sum(d) OVER (ORDER BY p, d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS conc
        FROM endpoints
    )
    SELECT CAST(max(conc) AS BIGINT) AS peak_concurrency,
           CAST((SELECT count(*) FROM iv) AS BIGINT) AS n_intervals
    FROM running
    """,
)
def global_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL peak concurrency — the un-keyed sweep, graded in the
    CHUNKED two-level form the repo's scale discipline mandates (SURVEY
    §7 risk 7: never a global window over raw rows): endpoints are
    bucketed by calendar day, each day computes its LOCAL running sum
    and (local max, local total) in a day-partitioned window, the
    per-day totals cumulate in one window over the ~30-row day summary
    (bounded frame — this is the only ordered pass), and each day's
    true peak = carry-in + local peak. max(carry + local) over days is
    the global peak. The ORACLE is the definitional single global
    window — DuckDB can afford it at oracle scale, which is exactly the
    point: the distributed plan must equal the naive one.

    Scale shape: one hash exchange on the day bucket; the only
    single-partition work is the |days|-row summary cumulation — the
    same leveled prefix-sum as sequence_packing/corpus_shuffle. Peak
    concurrency of a 100 TB event corpus runs with per-day parallelism.

    Reference basis: sweep-line family, global form — completes
    interval_coverage_sweep / peak_concurrency_sweep."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "ts",
        F.expr(
            "ts + make_interval(0, 0, 0, 0, 0, 0, (event_id % 7 + 1) * 60)"
        ).alias("te"),
    )
    endpoints = iv.select(
        F.col("ts").alias("p"), F.lit(1).alias("d")
    ).unionByName(
        iv.select(F.col("te").alias("p"), F.lit(-1).alias("d"))
    ).withColumn("day", F.to_date("p"))
    wl = (
        Window.partitionBy("day")
        .orderBy("p", "d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = endpoints.withColumn("run", F.sum("d").over(wl))
    day_summary = local.groupBy("day").agg(
        F.max("run").alias("local_peak"),
        F.sum("d").alias("local_total"),
    )
    wc = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = day_summary.withColumn(
        "carry", F.coalesce(F.sum("local_total").over(wc), F.lit(0))
    )
    n_iv = iv.count()
    return carried.agg(
        F.max(F.col("carry") + F.col("local_peak"))
        .cast("long")
        .alias("peak_concurrency"),
        F.lit(n_iv).cast("long").alias("n_intervals"),
    )


# ---------------------------- JSON corrupt-record handling --


@query(
    "json_corrupt_record_handling",
    oracle="""
    WITH raw AS (
        SELECT event_id,
               CASE WHEN event_id % 97 = 0
                    THEN '!!not-json' || props
                    ELSE props END AS payload
        FROM events WHERE event_id < 5000
    )
    SELECT event_id,
           CASE WHEN event_id % 97 = 0 THEN NULL
                ELSE CAST(json_extract(payload, '$.k') AS BIGINT)
           END AS k,
           (event_id % 97 = 0) AS is_corrupt,
           CASE WHEN event_id % 97 = 0 THEN payload END AS corrupt_raw
    FROM raw
    """,
)
def json_corrupt_record_handling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PERMISSIVE JSON parsing with a corrupt-record column — the
    malformed-payload contract for JSON (S5 graded it for CSV): rows
    are deterministically corrupted (every 97th id gets LEADING
    garbage — leading, not trailing, because Spark's Jackson-based
    parser tolerates trailing bytes after a complete JSON value, a
    leniency divergence this row documents), `from_json` in PERMISSIVE
    mode parses the rest and routes
    the broken originals into `columnNameOfCorruptRecord` instead of
    failing the job — the quarantine-don't-crash semantics a 100 TB
    ingest needs (FAILFAST is a retry storm, DROPMALFORMED silently
    loses data; the corrupt column is what makes the bad rows
    AUDITABLE). The oracle replays the corruption and the routing
    relationally.

    Scale shape: scan-side from_json codegen, zero shuffles; the
    corrupt column is NULL for clean rows so it compresses away.

    Reference basis: SURVEY §2 P5 (malformed-row guard) extended to
    the JSON codec family."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 5000)
    raw = ev.select(
        "event_id",
        F.when(
            F.col("event_id") % 97 == 0,
            F.concat(F.lit("!!not-json"), F.col("props")),
        )
        .otherwise(F.col("props"))
        .alias("payload"),
    )
    parsed = raw.select(
        "event_id",
        F.from_json(
            "payload",
            "k long, _corrupt string",
            {
                "mode": "PERMISSIVE",
                "columnNameOfCorruptRecord": "_corrupt",
            },
        ).alias("j"),
    )
    return parsed.select(
        "event_id",
        F.col("j.k").alias("k"),
        F.col("j._corrupt").isNotNull().alias("is_corrupt"),
        F.col("j._corrupt").alias("corrupt_raw"),
    )


# ----------------------------------------------- OLS trend per key --


@query(
    "ols_trend_by_key",
    oracle="""
    WITH t AS (
        SELECT event_type,
               CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS BIGINT) AS x,
               CAST(CAST(value AS DECIMAL(38,6)) * 100 AS BIGINT) AS yc
        FROM events
    ),
    sums AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(yc) AS BIGINT) AS sy,
               CAST(sum(x * yc) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM t GROUP BY event_type
    )
    SELECT event_type, n,
           n * sxy - sx * sy AS slope_num_cents,
           n * sxx - sx * sx AS slope_den,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / (n * sxx - sx * sx) AS slope_cents_per_step,
           (CAST(sy AS DOUBLE)
            - (CAST(n * sxy - sx * sy AS DOUBLE)
               / (n * sxx - sx * sx)) * sx) / n AS intercept_cents
    FROM sums
    """,
)
def ols_trend_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series OLS trend (closed-form simple linear regression) — the
    drift detector for metric streams: regress exact cent values against
    the time RANK (rank, not raw epoch, keeps x small and the sums in
    bigint), with all five sufficient statistics as EXACT integers
    (cents ≤ 10⁴, rank ≤ group rows; sf0.1 ⇒ Σx·y ≈ 2·10⁴·10⁴·2·10⁴
    ≪ 2⁶³). Slope numerator/denominator are emitted exactly; the float
    slope and intercept are single IEEE divisions/multiplications in a
    fixed order, so they grade bit-identically — the same
    sufficient-sums proof the ACF row carries (OLS and ACF share the
    five-sums skeleton; this row adds the intercept algebra).

    Scale shape: one hash exchange on the series key (rank window +
    aggregate in the same partitioning); five bigints of state per
    group. At 100 TB trend detection over millions of series is
    exchange-once, scan-bound.

    Reference basis: the reference notebook's price_prediction pipeline
    fits sklearn LinearRegression driver-side (SURVEY §2 notebook
    section); this is the same estimator as a distributed aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = ev.select(
        "event_type",
        F.row_number().over(w).cast("long").alias("x"),
        (F.col("value").cast("decimal(38,6)") * 100)
        .cast("long")
        .alias("yc"),
    )
    s = t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("yc").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("yc")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den
    return s.select(
        "event_type",
        "n",
        num.alias("slope_num_cents"),
        den.alias("slope_den"),
        slope.alias("slope_cents_per_step"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx"))
            / F.col("n")
        ).alias("intercept_cents"),
    )


# ------------------------------------------- rolling median smooth --


@query(
    "rolling_median_smooth",
    oracle="""
    SELECT event_id, event_type,
           median(value) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
           ) AS smooth_val
    FROM events WHERE event_id < 4000
    """,
)
def rolling_median_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-median smoothing — the ROBUST denoiser (a 4-point moving
    median rejects single-sample spikes a moving average absorbs).
    Cross-engine operator finding this row pins: DuckDB evaluates
    `median(...) OVER (... ROWS 3 PRECEDING)` natively (the oracle
    does), but Spark REJECTS any ordered/framed window for median or
    percentile (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC) — so the
    Spark-first spelling of a small-frame rolling quantile is lag
    COMPOSITION: gather the frame into an array of lag() values, drop
    the NULL prefix slots, array_sort, and index the middle (odd width)
    or average the two middles (even width; (a+b)/2 is one IEEE add
    and an exact halving). For constant frame width k this is O(k log k)
    codegen per row with NO Python and no extra shuffle — the correct
    engine-native form until the frame grows large.

    Scale shape: one hash exchange on the series key; 3 lag expressions
    share one window sort, the rest is scan-side array codegen —
    identical cost class to lag/lead at 100 TB. (Quantiles over
    UNBOUNDED growing frames would be the quadratic trap; bounded
    frames are the production form.)

    Reference basis: time-series family — the robust twin of the
    reference's window averaging (A1)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 4000)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    framed = ev.select(
        "event_id",
        "event_type",
        F.array_sort(
            F.filter(
                F.array(
                    F.lag("value", 3).over(w),
                    F.lag("value", 2).over(w),
                    F.lag("value", 1).over(w),
                    F.col("value"),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("a"),
    )
    n = F.size("a")
    mid_hi = F.element_at("a", (n / 2 + 1).cast("int"))
    mid_lo = F.element_at("a", (n / 2).cast("int"))
    return framed.select(
        "event_id",
        "event_type",
        F.when(n % 2 == 1, F.element_at("a", ((n + 1) / 2).cast("int")))
        .otherwise((mid_lo + mid_hi) / 2)
        .alias("smooth_val"),
    )


# -------------------------------- grouped GK quantile certificate --


@query(
    "grouped_gk_quantiles_certified",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           median(value) AS exact_median,
           true AS within_rank_bound
    FROM events GROUP BY event_type
    """,
)
def grouped_gk_quantiles_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-GROUP approximate quantiles certified by their rank-error
    contract (the global form graded in round 4; grouped is the
    production shape — one sketch per series): percentile_approx's GK
    sketch at accuracy=100 guarantees rank error ≤ n/accuracy, so the
    query computes the RANK of the sketch's median answer inside each
    group (an exact integer: count of values strictly below, plus ties
    straddling) and emits whether it sits within n/2 ± (n/100 + ties).
    The sketch VALUE itself never reaches the comparator (it is
    engine-specific — DuckDB has no GK twin); what grades is the
    certificate boolean, which the oracle pins to TRUE per group — a
    bound violation flips the Spark side to false and hash-fails. The
    exact median rides along (both engines interpolate the two middle
    values; one IEEE add + exact halving on 2-dp inputs).

    Scale shape: percentile_approx is a mergeable partial aggregate
    (constant-size GK state per group per partition); the rank
    certification is one extra conditional count in the same
    partial+final pass — zero additional shuffles.

    Reference basis: SURVEY §2 A4 percentile family, grouped-sketch
    form with the same certificate discipline as
    approx_count_distinct / approx_topk / ann_recall."""
    ev = load_table(spark, sf_dir, "events")
    approx = F.expr("percentile_approx(value, 0.5, 100)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.median("value").alias("exact_median"),
        approx.alias("apx"),
    )
    ranked = (
        ev.join(F.broadcast(g.select("event_type", "apx")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") < F.col("apx"), 1).otherwise(0))
            .cast("long")
            .alias("below"),
            F.sum(F.when(F.col("value") == F.col("apx"), 1).otherwise(0))
            .cast("long")
            .alias("ties"),
        )
    )
    return g.join(ranked, "event_type").select(
        "event_type",
        "n",
        "exact_median",
        (
            (F.col("below") <= F.col("n") / 2 + F.col("n") / 100 + 1)
            & (
                F.col("below") + F.col("ties")
                >= F.col("n") / 2 - F.col("n") / 100 - 1
            )
        ).alias("within_rank_bound"),
    )


# --------------------------- cross-source quantile normalization --


@query(
    "quantile_normalization_cross_source",
    oracle="""
    WITH s AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id
               ) AS rs,
               count(*) OVER (PARTITION BY source) AS ns
        FROM documents
    ),
    g AS (
        SELECT n_chars AS gval,
               row_number() OVER (ORDER BY n_chars, doc_id) AS gr
        FROM documents
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
    SELECT s.doc_id, s.source,
           CAST(s.n_chars AS BIGINT) AS n_chars,
           CAST(g.gval AS BIGINT) AS normalized_n_chars
    FROM s, tot
    JOIN g ON g.gr = ((s.rs - 1) * (tot.n - 1)) // (s.ns - 1) + 1
    """,
)
def quantile_normalization_cross_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source QUANTILE NORMALIZATION — the mixture-calibration
    operator (make per-source score distributions comparable before a
    global quality cut, so no source is penalized for its scorer's
    scale): each document's within-source nearest-rank position maps to
    the value at the SAME position of the GLOBAL distribution, all in
    integer rank arithmetic (floor-division position mapping, value
    ties broken by doc_id on both levels).

    The Spark plan builds the GLOBAL rank WITHOUT a global window
    (SURVEY §7 risk 7): distinct n_chars values form a BOUNDED bucket
    table, one single-partition window cumulates bucket counts into
    carries, and each doc's global rank = its bucket carry + a
    within-bucket row_number — the leveled prefix-sum machinery
    (sequence packing / corpus shuffle), here keyed by value. The
    ORACLE is the definitional single-global-window form; the
    distributed plan must equal it exactly.

    Scale shape: one exchange per level (source window; value-bucket
    window over the bounded bucket table; within-bucket window), one
    equi-join on the mapped global position. At 100 TB the bucket
    table is the value histogram — kilobytes; nothing single-reducer
    touches row-grain data.

    Reference basis: LLM-pipeline extension — quality-CDF normalize's
    cross-source big sibling (that row normalized within ONE
    distribution; this one aligns MANY)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    n_total = docs.count()

    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    s = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w_src).alias("rs"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .alias("ns"),
    )

    # global rank, leveled: bounded value-bucket carries + in-bucket rank
    buckets = docs.groupBy("n_chars").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_b = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carries = buckets.select(
        "n_chars",
        F.coalesce(F.sum("cnt").over(w_b), F.lit(0)).alias("carry"),
    )
    w_in = Window.partitionBy("n_chars").orderBy("doc_id")
    g = (
        docs.join(F.broadcast(carries), "n_chars")
        .select(
            F.col("n_chars").alias("gval"),
            (F.col("carry") + F.row_number().over(w_in)).alias("gr"),
        )
    )

    mapped = s.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        (
            # rs is a 32-bit row_number: the rank product overflows int
            # past ~46k docs per source (caught by the 1M-doc scale
            # smoke — ANSI mode would fail the job, non-ANSI silently
            # corrupts positions); widen BEFORE multiplying
            F.expr(
                f"((CAST(rs AS BIGINT) - 1) * ({n_total} - 1))"
                " DIV (CAST(ns AS BIGINT) - 1)"
            )
            + 1
        ).alias("gpos"),
    )
    return mapped.join(g, mapped.gpos == g.gr).select(
        "doc_id",
        "source",
        "n_chars",
        F.col("gval").cast("long").alias("normalized_n_chars"),
    )


# ------------------------- minhash estimator-error certificate --


def _minhash_error_oracle(k: int = 16, bands: int = 4, n: int = 3) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import (
        sql_minhash_sig,
        sql_word_shingles,
    )

    rows = k // bands
    sh = sql_word_shingles("text", n)
    inter = (
        "len(list_filter(sa.shingles,"
        " s -> list_contains(sb.shingles, s)))"
    )
    return f"""
    WITH sh AS (
        SELECT doc_id, {sh} AS shingles FROM documents
    ), sigged AS (
        SELECT doc_id, {sql_minhash_sig("shingles", k)} AS sig FROM sh
    ), banded AS (
        SELECT doc_id, b AS band_idx,
               md5(array_to_string(list_transform(
                   sig[b*{rows}+1 : b*{rows}+{rows}],
                   x -> CAST(x AS VARCHAR)), '-')) AS bh
        FROM sigged, range(0, {bands}) t(b)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a
        JOIN banded b ON a.band_idx = b.band_idx AND a.bh = b.bh
        WHERE a.doc_id < b.doc_id
    ), pairs AS (
        SELECT c.id_a, c.id_b,
               CAST(len(list_filter(range(1, {k} + 1),
                    j -> ga.sig[j] = gb.sig[j])) AS BIGINT) AS match_k,
               CAST({inter} AS BIGINT) AS inter_n,
               CAST(len(sa.shingles) + len(sb.shingles) - {inter}
                    AS BIGINT) AS union_n
        FROM cand c
        JOIN sh sa ON c.id_a = sa.doc_id
        JOIN sh sb ON c.id_b = sb.doc_id
        JOIN sigged ga ON c.id_a = ga.doc_id
        JOIN sigged gb ON c.id_b = gb.doc_id
    )
    SELECT id_a, id_b, match_k, inter_n, union_n,
           abs(CAST(match_k AS DOUBLE) / {k}
               - CAST(inter_n AS DOUBLE) / union_n) <= 0.35
               AS within_tolerance
    FROM pairs
    """


@query(
    "minhash_estimate_error_certified",
    oracle=_minhash_error_oracle(),
)
def minhash_estimate_error_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash ESTIMATOR-ERROR certificate — the dedup family's missing
    quality evidence (the ANN rows certify recall/MRR; this certifies
    the signature math itself): for every LSH candidate pair, the
    k=16-component signature agreement (the Jaccard ESTIMATE, an
    integer count) sits next to the EXACT shingle-set Jaccard
    (integer intersection/union sizes), and the certificate bool pins
    |est − exact| ≤ 0.35 ≈ 3σ of the k=16 estimator (σ =
    √(J(1−J)/k) ≤ 0.125). Everything is deterministic given the fixed
    universal-hash family (llm/hashing.py), so the oracle recomputes
    the identical signatures and the SAME booleans — a real bound
    violation would flip a row on the Spark side only and hash-fail.

    Scale shape: the same banded front half as the dedup flagship (two
    hash exchanges, candidates only on bucket collisions), one extra
    zip_with over the two k-length signatures per CANDIDATE (not per
    pair of documents). The certificate is what justifies trusting
    match_k as the cheap first-pass filter at 100 TB, where exact
    verification of every candidate is the dominant cost.

    Reference basis: LLM dedup family (SURVEY §2 extensions), estimator
    quality-certificate form."""
    from sparkksqldbbenchmark_spark.llm.dedup import (
        lsh_banded_buckets,
        with_minhash_signature,
    )

    k = 16
    docs = load_table(spark, sf_dir, "documents")
    shingle_side, buckets = lsh_banded_buckets(
        docs, "text", "doc_id", num_hashes=k, bands=4
    )
    a = buckets.select(
        F.col("doc_id").alias("id_a"), "band_idx", "bh"
    )
    b = buckets.select(
        F.col("doc_id").alias("id_b"), "band_idx", "bh"
    )
    cand = (
        a.join(b, ["band_idx", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sigged = with_minhash_signature(docs, "text", num_hashes=k).select(
        "doc_id", "sig"
    )
    sh = shingle_side.select("doc_id", "shingles")
    pairs = (
        cand.join(
            sigged.select(
                F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a")
            ),
            "id_a",
        )
        .join(
            sigged.select(
                F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b")
            ),
            "id_b",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("id_a"),
                F.col("shingles").alias("sh_a"),
            ),
            "id_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("id_b"),
                F.col("shingles").alias("sh_b"),
            ),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    union = (
        F.size("sh_a") + F.size("sh_b")
        - F.size(F.array_intersect("sh_a", "sh_b"))
    ).cast("long")
    match_k = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b))"
    ).cast("long")
    return pairs.select(
        "id_a",
        "id_b",
        match_k.alias("match_k"),
        inter.alias("inter_n"),
        union.alias("union_n"),
        (
            F.abs(
                match_k.cast("double") / k
                - inter.cast("double") / union
            )
            <= 0.35
        ).alias("within_tolerance"),
    )


# --------------------------- decontamination: max contiguous span --


def _max_span_oracle(n: int = 8, split_mod: int = 10) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    h8 = sql_md5_int(
        f"array_to_string(toks[i : i + {n} - 1], ' ')"
    )
    return f"""
    WITH tokd AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    win AS (
        SELECT doc_id, t.i AS pos,
               {h8} AS h
        FROM tokd, LATERAL (
            SELECT unnest(range(1,
                greatest(len(toks) - {n} + 1, 1) + 1)) AS i) t
        WHERE doc_id % {split_mod} != 0
    ),
    ev AS (
        SELECT DISTINCT {h8} AS h
        FROM tokd, LATERAL (
            SELECT unnest(range(1,
                greatest(len(toks) - {n} + 1, 1) + 1)) AS i) t
        WHERE doc_id % {split_mod} = 0
    ),
    hits AS (
        SELECT w.doc_id, w.pos,
               w.pos - row_number() OVER (
                   PARTITION BY w.doc_id ORDER BY w.pos
               ) AS grp
        FROM win w JOIN ev ON w.h = ev.h
    ),
    spans AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS span_windows
        FROM hits GROUP BY doc_id, grp
    ),
    tot AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows
        FROM win GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_windows,
           CAST(coalesce(sum(s.span_windows), 0) AS BIGINT) AS n_hits,
           CAST(coalesce(max(s.span_windows), 0) + CASE
                WHEN max(s.span_windows) IS NULL THEN 0
                ELSE {n} - 1 END AS BIGINT) AS max_span_tokens,
           coalesce(max(s.span_windows), 0) + CASE
                WHEN max(s.span_windows) IS NULL THEN 0
                ELSE {n} - 1 END >= 16 AS contaminated_span
    FROM tot t LEFT JOIN spans s ON t.doc_id = s.doc_id
    GROUP BY t.doc_id, t.n_windows
    """


@query("decontam_max_span", oracle=_max_span_oracle())
def decontam_max_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination by MAX CONTIGUOUS OVERLAP SPAN — the positional
    upgrade of the graded shingle-overlap fraction (decontam row): a
    training doc sharing many SCATTERED 8-grams with the eval set is
    thematically similar, but a LONG CONTIGUOUS run of matched windows
    is a verbatim leak — the quantity eval-contamination policies
    actually threshold on. Per training doc: positional 8-token window
    hashes (cross-engine md5-int) left-semi-matched against the
    broadcast DISTINCT eval window-hash set, matched positions merged
    gaps-and-islands (pos − row_number), and the longest island
    reported in TOKENS (span_windows + 7). contaminated_span pins the
    ≥16-token policy cut. Eval slice = doc_id % 10 == 0, the repo's
    standard held-out convention.

    Scale shape: eval hash set broadcasts (eval suites are small by
    nature — the decontam row's design); the corpus side shuffles ONCE
    on doc_id for the island window; window hashing is scan-side
    codegen. The exact_substring_spans machinery, pointed across
    corpora instead of within one.

    Reference basis: LLM decontamination family — completes fraction
    (graded r6) with span grain."""
    from sparkksqldbbenchmark_spark.llm.hashing import (
        spark_md5_int,
        spark_tokens,
    )

    n, split_mod = 8, 10
    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select(
        "doc_id", F.expr(spark_tokens("text")).alias("toks")
    )
    h8 = spark_md5_int(f"concat_ws(' ', slice(toks, i, {n}))")
    win_expr = (
        f"transform(sequence(1, greatest(size(toks) - {n} + 1, 1)),"
        f" i -> struct(i AS pos, {h8} AS h))"
    )
    train = (
        tokd.where(F.col("doc_id") % split_mod != 0)
        .select("doc_id", F.explode(F.expr(win_expr)).alias("w"))
        .select("doc_id", "w.pos", "w.h")
    )
    ev = (
        tokd.where(F.col("doc_id") % split_mod == 0)
        .select(F.explode(F.expr(win_expr)).alias("w"))
        .select("w.h")
        .distinct()
    )
    hits = train.join(F.broadcast(ev), "h")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        hits.withColumn("grp", F.col("pos") - F.row_number().over(wd))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("span_windows"))
        .groupBy("doc_id")
        .agg(
            F.sum("span_windows").cast("long").alias("n_hits"),
            F.max("span_windows").alias("max_windows"),
        )
    )
    tot = train.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows")
    )
    joined = tot.join(spans, "doc_id", "left")
    max_tokens = F.when(
        F.col("max_windows").isNull(), F.lit(0)
    ).otherwise(F.col("max_windows") + (n - 1))
    return joined.select(
        "doc_id",
        "n_windows",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        max_tokens.cast("long").alias("max_span_tokens"),
        (max_tokens >= 16).alias("contaminated_span"),
    )


# ------------------------------------ pack composition audit --


def _pack_audit_oracle(capacity: int = 2048, seed: str = "pack-v1") -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    key = sql_md5_int(f"('{seed}:' || CAST(doc_id AS VARCHAR))")
    return rf"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
                   AS n_tokens,
               {key} AS key
        FROM documents
    ), o AS (
        SELECT doc_id, lang, n_tokens,
               COALESCE(SUM(n_tokens) OVER (ORDER BY key, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS s
        FROM t WHERE n_tokens > 0
    ), seg AS (
        SELECT doc_id, lang, n_tokens, s,
               unnest(range(CAST(s // {capacity} AS BIGINT),
                            CAST((s + n_tokens - 1) // {capacity} + 1
                                 AS BIGINT))) AS p
        FROM o
    ), segt AS (
        SELECT p AS pack_id, doc_id, lang,
               CAST(least(s + n_tokens, (p + 1) * {capacity})
                   - greatest(s, p * {capacity}) AS BIGINT) AS seg_tokens
        FROM seg
    ), per_lang AS (
        SELECT pack_id, lang, CAST(sum(seg_tokens) AS BIGINT) AS lt
        FROM segt GROUP BY pack_id, lang
    )
    SELECT s.pack_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT s.lang) AS BIGINT) AS n_langs,
           CAST(sum(s.seg_tokens) AS BIGINT) AS pack_tokens,
           CAST((max(pl.max_lt) * 1000000) // sum(s.seg_tokens)
                AS BIGINT) AS dominant_lang_ppm
    FROM segt s
    JOIN (SELECT pack_id, max(lt) AS max_lt FROM per_lang GROUP BY 1) pl
      ON s.pack_id = pl.pack_id
    GROUP BY s.pack_id
    """


@query("pack_composition_audit", oracle=_pack_audit_oracle())
def pack_composition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack COMPOSITION audit — the dataset-card QA step after sequence
    packing: per 2048-token context window, how many document segments
    and distinct documents it interleaves, how many languages, its
    total filled tokens, and the dominant language's token share in
    integer ppm (the quantity cross-lingual-contamination policies
    threshold — a pack mixing languages mid-window trains the model on
    spurious transitions). Built on the SAME pack_manifest operator the
    loader consumes (segment grain, straddlers split per pack) joined
    with the document language — the audit and the training input
    cannot disagree by construction.

    Scale shape: the manifest adds no shuffle beyond pack_offsets' one
    data exchange + constant carry; the audit re-keys segments on
    pack_id (second bounded exchange — segments ≈ docs + straddlers)
    and the per-(pack, lang) max folds in the same aggregation. At
    100 TB this is the standard two-level aggregate over the manifest.

    Reference basis: LLM packing family (SURVEY §2 extensions) — the
    missing QA/composition half of sequence_packing + manifest."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_tokens
    from sparkksqldbbenchmark_spark.operators.packing import (
        pack_manifest,
        pack_offsets,
    )

    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id",
        "lang",
        F.size(F.expr(spark_tokens("text"))).cast("long").alias(
            "n_tokens"
        ),
    )
    packed = pack_offsets(
        with_tokens, id_col="doc_id", tokens_col="n_tokens", capacity=2048
    )
    manifest = pack_manifest(
        packed, id_col="doc_id", tokens_col="n_tokens", capacity=2048
    ).join(with_tokens.select("doc_id", "lang"), "doc_id")
    per_lang = manifest.groupBy("pack_id", "lang").agg(
        F.sum("seg_tokens").alias("lt")
    )
    max_lang = per_lang.groupBy("pack_id").agg(
        F.max("lt").alias("max_lt")
    )
    return (
        manifest.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum("seg_tokens").cast("long").alias("pack_tokens"),
        )
        .join(max_lang, "pack_id")
        .select(
            "pack_id",
            "n_segments",
            "n_docs",
            "n_langs",
            "pack_tokens",
            F.expr("max_lt * 1000000 DIV pack_tokens")
            .cast("long")
            .alias("dominant_lang_ppm"),
        )
    )


# ------------------------------- collision probability (diversity) --


@query(
    "collision_probability_suite",
    oracle="""
    WITH tok AS (
        SELECT source, u.t AS tok
        FROM documents, LATERAL (
            SELECT unnest(string_split(text, ' ')) AS t) u
    ),
    cnt AS (
        SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY source, tok
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(c * c) AS BIGINT) AS sum_sq,
           CAST((sum(c * c) * 1000000000) // (sum(c) * sum(c))
                AS BIGINT) AS collision_ppb,
           CAST(sum(c) * sum(c) AS DOUBLE) / sum(c * c)
               AS effective_vocab
    FROM cnt GROUP BY source
    """,
)
def collision_probability_suite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-distribution DIVERSITY per source without logarithms:
    the collision probability Σp² (Simpson index / Rényi-2) and its
    inverse — the EFFECTIVE VOCABULARY size (how many equally-likely
    tokens would look this diverse) — computed from exact integer token
    counts: Σc², (Σc)², and their ppb ratio by floor division, plus one
    IEEE division for the effective-vocab float. Shannon entropy needs
    ln (the libm call with no cross-engine last-ulp contract, per the
    repo determinism rules); collision probability orders distributions
    the same way for the diversity-collapse monitoring this row exists
    for (mode collapse in generated corpora shows as effective-vocab
    crashing long before eyeballing does).

    Scale shape: token explode → ONE partial-combined aggregate to
    (source, token) counts, then a per-source fold — the tf-idf family
    plan. Integer headroom: c ≤ corpus tokens ≈ 10¹⁰ at 100 TB, c²
    ≤ 10²⁰ overflows bigint for a GLOBALLY dominant token — the
    production form lifts sum_sq into DECIMAL(38,0), noted here
    explicitly (the test corpus peaks at c² ≈ 10⁸).

    Reference basis: text-analysis family (SURVEY §2 LLM extensions) —
    the diversity complement of vocab_top_tokens / tf-idf."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    cnt = tok.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return cnt.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_sq"),
        F.expr(
            "sum(c * c) * 1000000000 DIV (sum(c) * sum(c))"
        )
        .cast("long")
        .alias("collision_ppb"),
        (
            (F.sum("c") * F.sum("c")).cast("double")
            / F.sum(F.col("c") * F.col("c"))
        ).alias("effective_vocab"),
    )


# ------------------------------------------ burstiness (Fano factor) --


@query(
    "fano_burstiness_by_type",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(c) AS BIGINT) AS total,
           CAST(count(*) * sum(c * c) - sum(c) * sum(c) AS BIGINT)
               AS var_num,
           CAST(count(*) * count(*) AS BIGINT) AS var_den,
           (CAST(count(*) * sum(c * c) - sum(c) * sum(c) AS DOUBLE)
            / (count(*) * count(*)))
           / (CAST(sum(c) AS DOUBLE) / count(*)) AS fano_factor
    FROM hourly GROUP BY event_type
    """,
)
def fano_burstiness_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of each event stream — the Fano factor
    (variance/mean of per-hour counts): ≈1 for a Poisson arrival
    process, ≫1 for bursty traffic, the dispersion diagnostic behind
    capacity planning and anomaly baselines. Hourly counts are exact
    integers, so the population variance carries as the exact integer
    pair (N·Σc² − (Σc)², N²) and the Fano float is two IEEE divisions
    in fixed order — bit-identical cross-engine, the ACF/OLS
    sufficient-sums proof again (this row completes the trio:
    autocorrelation, trend, dispersion).

    Scale shape: one partial-combined aggregate to (type, hour) —
    bounded by keys × hours, not by rows — then a per-type fold over
    those counts. Scan-bound at any scale.

    Reference basis: time-series statistics family (SURVEY §2
    extensions)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = F.count(F.lit(1))
    sc = F.sum("c")
    scc = F.sum(F.col("c") * F.col("c"))
    return hourly.groupBy("event_type").agg(
        n.cast("long").alias("n_hours"),
        sc.cast("long").alias("total"),
        (n * scc - sc * sc).cast("long").alias("var_num"),
        (n * n).cast("long").alias("var_den"),
        (
            ((n * scc - sc * sc).cast("double") / (n * n))
            / (sc.cast("double") / n)
        ).alias("fano_factor"),
    )


# --------------------------- integer PageRank over the dup graph --


def _pagerank_oracle(k: int = 16, bands: int = 4, n: int = 3) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import (
        sql_minhash_sig,
        sql_word_shingles,
    )

    rows = k // bands
    sh = sql_word_shingles("text", n)
    iter_tpl = """
    , r{i} AS (
        SELECT e.dst AS node,
               CAST(base.b + (sum(r{p}.rank // deg.d) * 85) // 100
                    AS BIGINT) AS rank
        FROM edges e
        JOIN r{p} ON e.src = r{p}.node
        JOIN deg ON e.src = deg.node
        CROSS JOIN base
        GROUP BY e.dst, base.b
    )"""
    iters = "".join(iter_tpl.format(i=i, p=i - 1) for i in (1, 2, 3))
    return f"""
    WITH sh AS (
        SELECT doc_id, {sh} AS shingles FROM documents
    ), sigged AS (
        SELECT doc_id, {sql_minhash_sig("shingles", k)} AS sig FROM sh
    ), banded AS (
        SELECT doc_id, b AS band_idx,
               md5(array_to_string(list_transform(
                   sig[b*{rows}+1 : b*{rows}+{rows}],
                   x -> CAST(x AS VARCHAR)), '-')) AS bh
        FROM sigged, range(0, {bands}) t(b)
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
        FROM banded a
        JOIN banded b ON a.band_idx = b.band_idx AND a.bh = b.bh
        WHERE a.doc_id < b.doc_id
    ), edges AS (
        SELECT u AS src, v AS dst FROM pairs
        UNION ALL
        SELECT v AS src, u AS dst FROM pairs
    ), nodes AS (
        SELECT DISTINCT src AS node FROM edges
    ), deg AS (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        FROM edges GROUP BY src
    ), base AS (
        SELECT CAST(150000000000 // count(*) AS BIGINT) AS b,
               CAST(count(*) AS BIGINT) AS n_nodes
        FROM nodes
    ), r0 AS (
        SELECT node, CAST(1000000000000 // base.n_nodes AS BIGINT)
               AS rank
        FROM nodes, base
    ){iters}
    SELECT r3.node AS doc_id, r3.rank AS pagerank_e12,
           deg.d AS degree
    FROM r3 JOIN deg ON r3.node = deg.node
    """


@query("pagerank_dupgraph_3iter", oracle=_pagerank_oracle())
def pagerank_dupgraph_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-duplicate graph — the ITERATIVE-algorithm
    representative (3 unrolled power iterations, d=0.85): rank flows
    along LSH-candidate edges, surfacing the documents most central to
    duplication clusters (the canonical pick a keep-best policy can
    weight by). Ranks are INTEGER-QUANTIZED in units of 10⁻¹²: the
    teleport term is 0.15·10¹²÷N by floor division, each neighbor
    contribution is rank÷degree floored, and damping is ×85÷100 floored
    — every engine computes the identical integers, where float
    PageRank would drift per-engine in the order-sensitive neighbor
    sums (the quantization error, ≤ degree ulps per node per iteration,
    is orders below any ranking decision). The oracle unrolls the same
    three iterations as CTEs over the identically-derived edge set.

    Scale shape: each iteration is one join (ranks ⋈ edges on src) +
    one partial-combined aggregate on dst — the textbook distributed
    PageRank step; the dup graph is LSH-sparse (candidates only on
    band collisions), and iteration count is a constant. Spark's plan
    chains three such steps; at 100 TB each is exchange-once on
    uniform ids.

    Reference basis: extends the dedup-graph family (connected
    components, degree stats) with the iterative centrality measure —
    and proves iterative algorithms ARE oracle-gradeable when unrolled
    and quantized."""
    from sparkksqldbbenchmark_spark.llm.dedup import lsh_banded_buckets

    docs = load_table(spark, sf_dir, "documents")
    _, buckets = lsh_banded_buckets(docs, "text", "doc_id")
    a = buckets.select(F.col("doc_id").alias("u"), "band_idx", "bh")
    b = buckets.select(F.col("doc_id").alias("v"), "band_idx", "bh")
    pairs = (
        a.join(b, ["band_idx", "bh"])
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    edges = pairs.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    # 4 consumers: fix the plan, and HASH-PARTITION + SORT by src before
    # the checkpoint (optimization guide §2.4): the checkpoint pins the
    # physical partitioning/ordering, so every iteration's edges⋈ranks
    # join is exchange-free AND sort-free on the (big) edge side — the
    # unpartitioned form re-exchanged and re-sorted the edge list once
    # per iteration (7 SortMergeJoins, each with its own edge shuffle).
    edges = (
        edges.repartition(F.col("src"))
        .sortWithinPartitions("src")
        .localCheckpoint(eager=True)
    )
    # derived exchange-free from the src-partitioned edges
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.count()
    base = 150000000000 // n_nodes
    rank = nodes.select(
        "node", F.lit(1000000000000 // n_nodes).cast("long").alias("rank")
    )
    for _ in range(3):
        # guide §8 "decide with small rows": fold rank⋈deg into the
        # |nodes|-grain per-source contribution FIRST (both sides are
        # node-keyed and co-partitioned — exchange-free), then join the
        # |edges|-grain side exactly once per iteration instead of
        # twice. rank DIV d per src is identical computed per-src or
        # per-edge-row.
        per_src = (
            rank.withColumnRenamed("node", "src")
            .join(deg.hint("shuffle_hash"), "src")
            .select("src", F.expr("rank DIV d").alias("c"))
        )
        contrib = edges.join(per_src.hint("shuffle_hash"), "src").select(
            F.col("dst").alias("node"), "c"
        )
        rank = contrib.groupBy("node").agg(
            (
                F.lit(base).cast("long")
                + F.expr("sum(c) * 85 DIV 100")
            ).alias("rank")
        )
    return rank.join(
        deg.hint("shuffle_hash").withColumnRenamed("src", "node"), "node"
    ).select(
        F.col("node").alias("doc_id"),
        F.col("rank").alias("pagerank_e12"),
        F.col("d").alias("degree"),
    )


# --------------------------------- HLL sketch re-aggregation --


@query(
    "hll_union_reaggregate",
    oracle="""
    WITH per_source AS (
        SELECT source, CAST(count(DISTINCT doc_id % 997) AS BIGINT)
               AS exact_distinct
        FROM documents GROUP BY source
    ),
    gtot AS (
        SELECT CAST(count(DISTINCT doc_id % 997) AS BIGINT) AS g
        FROM documents
    )
    SELECT p.source, p.exact_distinct,
           true AS source_est_within_5pct,
           gtot.g AS global_exact,
           true AS merged_est_within_5pct
    FROM per_source p, gtot
    """,
)
def hll_union_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch RE-AGGREGATION — the rollup-without-rescan pattern
    sketches exist for: per-source HLL sketches (hll_sketch_agg) are
    MERGED with hll_union_agg into a global cardinality estimate, and
    BOTH levels are certified against exact distinct counts at a 5%
    bound (the datasketches HLL at default lgK=12 has σ≈1.04/√2¹² ≈
    1.6%). The estimated values themselves never reach the comparator
    (sketch internals are engine-specific; DuckDB has no datasketches
    twin) — the certificate booleans grade, pinned TRUE by the oracle,
    so a bound violation flips the Spark side and hash-fails: the
    approx_count_distinct certification discipline, extended to the
    MERGE operation. The distinct key is doc_id % 997 so collisions
    make per-source and global cardinalities genuinely different.

    Scale shape: THIS is why sketches win at 100 TB — the global
    estimate derives from |sources| kilobyte sketches, not a second
    full-data pass; any rollup hierarchy (source → lang → corpus)
    re-aggregates the same partials. One partial-combined aggregate
    builds the sketches; the union is constant-size work.

    Reference basis: sketch family (kmv / hll_bitmap / approx_topk /
    CMS) — the re-aggregation half the per-level rows don't grade."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", (F.col("doc_id") % 997).alias("k")
    )
    per_source = docs.groupBy("source").agg(
        F.expr("hll_sketch_agg(k)").alias("sk"),
        F.count_distinct("k").cast("long").alias("exact_distinct"),
    )
    merged = per_source.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("g_est")
    )
    g_exact = docs.select(F.count_distinct("k").cast("long").alias("g"))
    return (
        per_source.select(
            "source",
            "exact_distinct",
            (
                F.abs(
                    F.expr("hll_sketch_estimate(sk)").cast("double")
                    - F.col("exact_distinct")
                )
                <= 0.05 * F.col("exact_distinct")
            ).alias("source_est_within_5pct"),
        )
        .crossJoin(F.broadcast(g_exact))
        .crossJoin(F.broadcast(merged))
        .select(
            "source",
            "exact_distinct",
            "source_est_within_5pct",
            F.col("g").alias("global_exact"),
            (
                F.abs(F.col("g_est").cast("double") - F.col("g"))
                <= 0.05 * F.col("g")
            ).alias("merged_est_within_5pct"),
        )
    )


# ---------------------- time-series shape signatures (SAX-style) --


@query(
    "series_shape_signature_buckets",
    oracle="""
    WITH hourly AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               (hour(ts) // 3) AS seg,
               CAST(sum(CAST(CAST(value AS DECIMAL(38,6)) * 100
                    AS BIGINT)) AS BIGINT) AS seg_cents
        FROM events GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT event_type, day, seg, seg_cents,
               row_number() OVER (
                   PARTITION BY event_type, day
                   ORDER BY seg_cents, seg
               ) AS rk,
               count(*) OVER (PARTITION BY event_type, day) AS nseg
        FROM hourly
    ),
    words AS (
        SELECT event_type, day,
               string_agg(CAST(((rk - 1) * 3) // nseg AS VARCHAR),
                          '' ORDER BY seg) AS sax_word,
               CAST(count(*) AS BIGINT) AS n_segments
        FROM ranked GROUP BY event_type, day
    )
    SELECT event_type, day, sax_word, n_segments,
           CAST(count(*) OVER (PARTITION BY sax_word) AS BIGINT)
               AS bucket_size
    FROM words
    """,
)
def series_shape_signature_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-series SHAPE signatures for similarity bucketing — the
    SAX/PAA idea (piecewise aggregation + symbol discretization) in a
    rank-exact form: each (event_type, day) series aggregates to eight
    3-hour segment cent-sums (PAA), each segment's symbol is its
    RANK TERTILE within its own series ((rank−1)·3 ÷ nseg, integer
    floor — rank discretization replaces the classic z-normalized
    Gaussian breakpoints, which would hinge on cross-engine float
    drift in mean/σ), and the 8-symbol word is the series' shape
    signature. Equal words = candidate similar series — the
    LSH-bucketing idea transplanted to time series (two series share a
    word iff their intraday profiles rise and fall in the same rank
    pattern, amplitude-invariant by construction). bucket_size counts
    each signature's cohort, the similarity-search candidate set.

    Scale shape: one partial-combined aggregate to (series, segment),
    a per-series window over ≤8 rows, an ordered string_agg at series
    grain (sort_array+array_join on the Spark side — order-safe
    distributed listagg), and a word-keyed window for bucket sizes —
    every exchange on uniform keys; candidate generation never
    compares series pairwise, the same never-n² discipline as the
    dedup family.

    Reference basis: time-series family extension following the
    retrieved EDBT 2019 line (distributed time-series similarity
    search); machinery shares the repo's bucketing discipline."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        (F.hour("ts") / 3).cast("int").alias("seg"),
    ).agg(
        F.sum((F.col("value").cast("decimal(38,6)") * 100).cast("long"))
        .cast("long")
        .alias("seg_cents")
    )
    w_rank = Window.partitionBy("event_type", "day").orderBy(
        "seg_cents", "seg"
    )
    w_n = Window.partitionBy("event_type", "day")
    ranked = hourly.select(
        "event_type",
        "day",
        "seg",
        F.row_number().over(w_rank).alias("rk"),
        F.count(F.lit(1)).over(w_n).alias("nseg"),
    )
    words = ranked.groupBy("event_type", "day").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "seg",
                            F.expr("(rk - 1) * 3 DIV nseg").alias("sym"),
                        )
                    )
                ),
                lambda x: x["sym"].cast("string"),
            ),
            "",
        ).alias("sax_word"),
        F.count(F.lit(1)).cast("long").alias("n_segments"),
    )
    w_bucket = Window.partitionBy("sax_word")
    return words.select(
        "event_type",
        "day",
        "sax_word",
        "n_segments",
        F.count(F.lit(1)).over(w_bucket).cast("long").alias("bucket_size"),
    )


# ------------------------- custom-sink append semantics audit --


@query(
    "python_datasource_sink_append_audit",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS k,
           o_orderstatus AS status,
           CASE WHEN o_orderkey < 400 THEN 'job1' ELSE 'job2' END AS job
    FROM orders WHERE o_orderkey < 800
    """,
)
def python_datasource_sink_append_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """APPEND-mode semantics of the custom JSONL sink, graded end to
    end: two separate jobs append into ONE directory, and the
    manifest-driven read-back must return BOTH jobs' rows — the
    regression this round's review fix closed (the commit sweep used to
    delete every part file it did not itself write, silently turning
    the second append into a truncate; the sweep is now scoped to the
    writing job's file prefix and the manifest unions across jobs).
    The query writes job1 (keys < 400) then job2 (keys 400–799) via
    ``mode("append")``, reads back exactly the manifest's files, and
    the oracle is the plain union — a lost first job halves the
    rowcount and hash-fails.

    Scale shape: the sink writes one file per task attempt with
    driver-side commit publishing the winning set (the exactly-once
    DataSourceWriter contract graded by the sibling roundtrip row);
    append adds only a manifest merge — no full-directory listing cost
    beyond the job's own prefix glob.

    Reference basis: SURVEY §2 S13/S16 sink family — the
    multi-ingest-cycle semantics a daily landing job actually runs."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from sparkksqldbbenchmark_spark.sources.pyds import (
        register_python_sources,
    )

    register_python_sources(spark)
    out = _tempfile.mkdtemp(prefix="sink_append_") + "/data"
    _os.makedirs(out)
    o = load_table(spark, sf_dir, "orders")

    def job(lo: int, hi: int, tag: str) -> None:
        (
            o.where(
                (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
            )
            .select(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderstatus").alias("status"),
                F.lit(tag).alias("job"),
            )
            .repartition(2)
            .write.format("jsonl_pages")
            .option("path", out)
            .mode("append")
            .save()
        )

    job(0, 400, "job1")
    job(400, 800, "job2")

    with open(_os.path.join(out, "_MANIFEST.json")) as fh:
        manifest = _json.load(fh)
    files = [_os.path.join(out, f) for f in manifest["files"]]
    back = spark.read.json(files)
    if back.count() != manifest["rows"]:
        raise AssertionError(
            f"manifest rows {manifest['rows']} != read-back {back.count()}"
        )
    return back.select(
        F.col("k").cast("long").alias("k"), "status", "job"
    )
