"""The round-12 staged cohort, graduated into the driver-graded registry
at round-13 start per docs/ROTATION_R12.md.

42 of the 54 staged rows graduate here (the module-local
``staged_query`` decorator swapped for ``plans.registry.query``,
mechanics as rounds 6-12 — see plans/round6_queries.py ..
round11_queries.py history). The 12 held-back suite siblings
(docs/ROTATION_R12.md holdback priority: suite rows whose machinery
already carries a graded sibling) remain staged in plans/next_round.py
and graduate round 14.

Cohort composition: the eleven round-11 holdbacks graduate first (they
waited two rounds — aggregate-modifier breadth, calibration bins,
transpose, melt, string format, ORDER BY ALL, EXECUTE IMMEDIATE,
nth_value frames, interarrival histogram, OHLC bars, and the chunked
two-level id_sequence_gap_audit), then the round-12 stagings: TPC-H
completion (q12/q17 — all 22 shapes now graded at least once),
certificates (Misra-Gries, TABLESAMPLE seed-stability, chi-square
uniformity, Neyman allocation), vocabulary/text statistics (Zipf tail
mass, OOV rate, PMI pairs, language-ID confusion), LLM curation
(epoch-repeat planner, threshold sweep, curriculum phases, span-union,
blocklist term scan, split-leakage audit), embeddings (prefix energy,
hard-negative mining, HOF-vs-explode norm pin), scale patterns
(two-level global row index, IVM delta merge, bucketed interval
overlap join, label-propagation communities), engine mechanics (AQE
runtime SMJ→BHJ conversion), ops/compliance (DQ expectations,
right-to-erasure cascade), the feature-store point-in-time join, the
first oracle-graded Confluent-Avro codec row, and product analytics
(time-to-convert, sliding 24h distinct, in-session conversion).

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
# Held back from the round-11 graduation (docs/ROTATION_R11.md):
# graded siblings cover each one's machinery; they graduate round 13.
# ===================================================================

# -------------------------------------- aggregate-modifier breadth --


@query(
    "agg_breadth_suite",
    oracle="""
    SELECT event_type,
           CAST(count_if(value > 500) AS BIGINT) AS n_high,
           bool_and(value >= 0) AS all_nonneg,
           bool_or(value > 999) AS any_extreme,
           any_value(upper(event_type)) AS type_upper,
           CAST(sum(DISTINCT CAST(floor(value * 100) AS BIGINT))
                AS BIGINT) AS distinct_cents_sum,
           count(DISTINCT CAST(floor(value * 100) AS BIGINT))
               AS distinct_cents
    FROM events GROUP BY event_type
    """,
)
def agg_breadth_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-surface breadth: count_if, bool_and/bool_or,
    any_value (made deterministic by aggregating a group-constant
    expression — the only sound use of an otherwise arbitrary-pick
    aggregate), and DISTINCT-modified sum/count over exact cents.
    Completes the aggregate-modifier matrix started by
    filter_clause_agg (FILTER), listagg_ordered (WITHIN GROUP) and
    the r8 collation rows.

    Scale shape: count_if/bool_* are constant-state partial aggs;
    the DISTINCT pair adds one dedup exchange on (group, value) —
    bounded by distinct cents (≤100k) per type, not rows.

    Reference basis: SURVEY §2.4 A7/A9 surface extension."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    return ev.groupBy("event_type").agg(
        F.expr("count_if(value > 500)").alias("n_high"),
        F.expr("bool_and(value >= 0)").alias("all_nonneg"),
        F.expr("bool_or(value > 999)").alias("any_extreme"),
        F.any_value(F.upper("event_type")).alias("type_upper"),
        F.sum_distinct(cents).cast("long").alias("distinct_cents_sum"),
        F.count_distinct(cents).alias("distinct_cents"),
    )


# ----------------------------------- score calibration reliability --


@query(
    "score_calibration_bins",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               (('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#cal'),
                                   1, 15))::BIGINT % 1000) AS pred_ppk,
               CASE WHEN n_chars > 900 THEN 1 ELSE 0 END AS label
        FROM documents
    )
    SELECT pred_ppk // 100 AS bin,
           count(*) AS n,
           CAST(sum(pred_ppk) AS BIGINT) AS pred_ppk_sum,
           CAST(sum(label) AS BIGINT) AS n_pos,
           (CAST(sum(pred_ppk) AS DOUBLE) / (count(*) * 1000))
               - (CAST(sum(label) AS DOUBLE) / count(*)) AS calib_gap
    FROM scored GROUP BY 1
    """,
)
def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for a quality classifier: bucket a
    deterministic pseudo-score (cross-engine md5-int, llm/hashing.py)
    into deciles and compare mean predicted probability against the
    observed positive rate per bin — the calibration audit every
    model-scored curation pipeline runs before trusting its scores as
    sampling weights (miscalibrated scores silently skew the kept
    corpus). Integer sums carry exactly; the gap is two IEEE divisions
    in fixed order.

    Scale shape: scan → ten-group partial agg. Nothing else.

    Reference basis: LLM-pipeline extension; consumer side of the
    quality scores graded since r2 (text_quality_scores)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        (
            F.expr(spark_md5_int("concat(cast(doc_id as string), '#cal')"))
            % 1000
        ).alias("pred_ppk"),
        F.when(F.col("n_chars") > 900, 1).otherwise(0).alias("label"),
    )
    n = F.count(F.lit(1))
    return scored.groupBy(
        (F.col("pred_ppk") / 100).cast("long").alias("bin")
    ).agg(
        n.alias("n"),
        F.sum("pred_ppk").cast("long").alias("pred_ppk_sum"),
        F.sum("label").cast("long").alias("n_pos"),
        (
            (F.sum("pred_ppk").cast("double") / (n * 1000))
            - (F.sum("label").cast("double") / n)
        ).alias("calib_gap"),
    )


# ----------------------------------- DataFrame.transpose (Spark 4) --


@query(
    "dataframe_transpose_suite",
    oracle="""
    WITH m AS (
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents_sum,
               CAST(max(event_id) AS BIGINT) AS max_event_id
        FROM events GROUP BY event_type
    )
    SELECT 'n_events' AS metric,
           CAST(max(CASE WHEN event_type = 'click' THEN n_events END)
                AS BIGINT) AS click,
           CAST(max(CASE WHEN event_type = 'error' THEN n_events END)
                AS BIGINT) AS error,
           CAST(max(CASE WHEN event_type = 'purchase' THEN n_events END)
                AS BIGINT) AS purchase,
           CAST(max(CASE WHEN event_type = 'signup' THEN n_events END)
                AS BIGINT) AS signup,
           CAST(max(CASE WHEN event_type = 'view' THEN n_events END)
                AS BIGINT) AS view
    FROM m
    UNION ALL
    SELECT 'cents_sum',
           max(CASE WHEN event_type = 'click' THEN cents_sum END),
           max(CASE WHEN event_type = 'error' THEN cents_sum END),
           max(CASE WHEN event_type = 'purchase' THEN cents_sum END),
           max(CASE WHEN event_type = 'signup' THEN cents_sum END),
           max(CASE WHEN event_type = 'view' THEN cents_sum END)
    FROM m
    UNION ALL
    SELECT 'max_event_id',
           max(CASE WHEN event_type = 'click' THEN max_event_id END),
           max(CASE WHEN event_type = 'error' THEN max_event_id END),
           max(CASE WHEN event_type = 'purchase' THEN max_event_id END),
           max(CASE WHEN event_type = 'signup' THEN max_event_id END),
           max(CASE WHEN event_type = 'view' THEN max_event_id END)
    FROM m
    """,
)
def dataframe_transpose_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (Spark 4.0) — rows↔columns over an
    aggregate: per-type metrics become one column per event type, one
    row per metric, with the index column's values becoming column
    NAMES at plan time (transpose must execute the child to learn
    them — a deliberate eager step, fine over an already-aggregated
    5-row input). The oracle spells the same reshape as conditional
    aggregation, so every transposed cell is value-checked. All
    metrics pre-cast to BIGINT: transpose requires a least common
    type across the value columns.

    Scale shape: transpose is driver-bounded by |index values| ×
    |metrics| — legitimate ONLY downstream of an aggregate (exactly
    this shape: 5×3). The unbounded direction (transposing a fact
    table) is a modeling error, not an engine path.

    Reference basis: reshape family sibling of pivot/unpivot
    (SURVEY §2 reshape rows, graded since r4)."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents_sum"),
        F.max("event_id").cast("long").alias("max_event_id"),
    )
    # transpose: index column first; metric names arrive in a `key`
    # column named after the index column's header semantics
    t = m.transpose(F.col("event_type"))
    return t.withColumnRenamed("key", "metric")


# ------------------------------------------- DataFrame.melt API --


@query(
    "melt_api_reshape",
    oracle="""
    SELECT o_orderkey,
           'price_cents' AS measure,
           CAST(CAST(o_totalprice AS DECIMAL(38,6)) * 100 AS BIGINT)
               AS val
    FROM orders WHERE o_orderkey < 2000
    UNION ALL
    SELECT o_orderkey, 'status_code',
           CAST(ascii(substring(o_orderstatus, 1, 1)) AS BIGINT)
    FROM orders WHERE o_orderkey < 2000
    UNION ALL
    SELECT o_orderkey, 'order_year',
           CAST(year(o_orderdate) AS BIGINT)
    FROM orders WHERE o_orderkey < 2000
    """,
)
def melt_api_reshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.melt`` — the DataFrame-API unpivot (the SQL UNPIVOT
    surface graded via groupby_all_unpivot_sql in r8; this grades the
    API twin pandas users reach for): three typed measures melt into
    (id, measure, val) rows, the oracle re-derives the long form as a
    UNION ALL expansion. Measures pre-cast to BIGINT — melt, like
    UNPIVOT, requires a least common value type, and exact cents keep
    the comparison integral.

    Scale shape: melt compiles to the same Expand node as UNPIVOT —
    |measures|× row replication, scan-side, no shuffle.

    Reference basis: reshape family (SURVEY §2 pivot/unpivot rows)."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < 2000
    )
    typed = o.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(38,6)") * 100)
        .cast("long")
        .alias("price_cents"),
        F.ascii(F.substring("o_orderstatus", 1, 1))
        .cast("long")
        .alias("status_code"),
        F.year("o_orderdate").cast("long").alias("order_year"),
    )
    return typed.melt(
        ids=["o_orderkey"],
        values=["price_cents", "status_code", "order_year"],
        variableColumnName="measure",
        valueColumnName="val",
    )


# ------------------------------------------ string format breadth --


@query(
    "string_format_suite",
    oracle="""
    SELECT event_id,
           printf('%s-%05d', event_type, event_id) AS tagged,
           lpad(event_type, 10, '.') AS padded_l,
           rpad(event_type, 10, '.') AS padded_r,
           translate(event_type, 'aeiou', 'AEIOU') AS vowel_caps,
           upper(substring(event_type, 1, 1))
               || lower(substring(event_type, 2)) AS init_cap,
           reverse(event_type) AS reversed,
           repeat(substring(event_type, 1, 2), 3) AS repeated
    FROM events WHERE event_id < 3000
    """,
)
def string_format_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting breadth: format_string (printf semantics with
    width/zero-pad flags), lpad/rpad with custom fill, translate
    (character mapping), initcap (oracle spells it definitionally —
    DuckDB has no initcap; single-token inputs make the expansion
    exact), reverse, repeat. Complements string_suite2 (r9: split/
    substring index/soundex-adjacent ops) with the FORMATTING half of
    the F-suite surface.

    Scale shape: scan-side codegen expressions, zero shuffles.

    Reference basis: SURVEY §2.8 scalar-function family (F2-F8
    string ops)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") < 3000
    )
    return ev.select(
        "event_id",
        F.format_string("%s-%05d", "event_type", "event_id").alias(
            "tagged"
        ),
        F.lpad("event_type", 10, ".").alias("padded_l"),
        F.rpad("event_type", 10, ".").alias("padded_r"),
        F.translate("event_type", "aeiou", "AEIOU").alias("vowel_caps"),
        F.initcap("event_type").alias("init_cap"),
        F.reverse("event_type").alias("reversed"),
        F.repeat(F.substring("event_type", 1, 2), 3).alias("repeated"),
    )


# ------------------------------- ORDER BY ALL + OFFSET pagination --


@query(
    "order_by_all_offset_sql",
    oracle="""
    SELECT o_orderpriority,
           CAST(o_orderdate AS DATE) AS od,
           count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders WHERE o_orderkey < 30000
    GROUP BY 1, 2
    ORDER BY ALL
    LIMIT 50 OFFSET 100
    """,
)
def order_by_all_offset_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ORDER BY ALL`` + ``LIMIT ... OFFSET`` — the pagination idiom
    (modern-SQL ergonomics row, sibling of GROUP BY ALL graded in r8):
    ORDER BY ALL sorts by every select-list column left-to-right, which
    over a grouped result is a TOTAL order — making OFFSET pagination
    deterministic, the property this row grades (an OFFSET under a
    partial order is a lottery). Both engines run the identical text.

    Scale shape: global sort limited by LIMIT+OFFSET — Spark plans
    TakeOrderedAndProject with k = offset+limit, so the driver
    materializes 150 rows, not the table. Deep pagination (OFFSET ≫)
    degrades by construction in ANY engine; keyset pagination is the
    100 TB answer and is already graded via the rank-cut rows.

    Reference basis: SURVEY §2.6 O-family (sorts/top-k) SQL surface."""
    _view(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(o_orderdate AS DATE) AS od,
               count(*) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderkey < 30000
        GROUP BY 1, 2
        ORDER BY ALL
        LIMIT 50 OFFSET 100
        """
    )


# --------------------------------------- EXECUTE IMMEDIATE --


@query(
    "execute_immediate_sql",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events
    WHERE user_id < 400 AND event_id % 3 = 1
    GROUP BY 1
    """,
)
def execute_immediate_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``EXECUTE IMMEDIATE`` (Spark 4 dynamic SQL): the query text is a
    VALUE — assembled at runtime and executed with named parameter
    binding (USING ... AS alias), the safe-templating primitive that
    replaces string concatenation in orchestration code (parameters
    bind as typed literals, closing the injection hole). Completes the
    dynamic-SQL trio: session variables (r9), IDENTIFIER() binding
    (r9), and now statement-level dynamic execution. The oracle is the
    statically-spelled equivalent.

    Scale shape: plan-time indirection only — the executed statement
    compiles to the same aggregate plan as its static twin.

    Reference basis: SQL-surface extension (SURVEY §2 A2 front door:
    the reference drives everything through ksql strings — dynamic SQL
    is that workflow made parameter-safe)."""
    _view(spark, sf_dir, "events")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
            'SELECT event_type,
                    count(*) AS n,
                    CAST(sum(CAST(floor(value * 100) AS BIGINT))
                         AS BIGINT) AS cents
             FROM events
             WHERE user_id < :u AND event_id % :m = 1
             GROUP BY 1'
            USING 400 AS u, 3 AS m
        """
    )


# -------------------------- nth_value / frame-default traps --


@query(
    "nth_value_window_suite",
    oracle="""
    SELECT user_id, event_id,
           nth_value(value, 2) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_value,
           first_value(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS first_seen,
           last_value(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS last_default_frame,
           last_value(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_full_frame
    FROM events WHERE user_id < 50
    """,
)
def nth_value_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value + the DEFAULT-FRAME trap, pinned: with an ORDER BY and
    no frame clause, the ANSI default frame is RANGE UNBOUNDED
    PRECEDING..CURRENT ROW — so `last_value` over the default frame is
    just the CURRENT row (the classic window bug), while the explicit
    full frame gives the partition's true last. Both spellings graded
    side by side, plus nth_value(2) over the full frame and
    first_value (where the default frame IS correct). Both engines run
    the identical ANSI text.

    Scale shape: one window exchange+sort per partition spec — all
    four functions share the same (user_id | ts,event_id) spec, so
    Catalyst computes them in a single Window operator pass.

    Reference basis: SURVEY §2.5 W-family completion (navigation
    functions graded since r3/r8; this pins the frame-default
    semantics)."""
    _view(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT user_id, event_id,
               nth_value(value, 2) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING
               ) AS second_value,
               first_value(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS first_seen,
               last_value(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS last_default_frame,
               last_value(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING
               ) AS last_full_frame
        FROM events WHERE user_id < 50
        """
    )


# ------------------- inter-arrival dyadic histogram --


@query(
    "interarrival_dyadic_histogram",
    oracle="""
    WITH deltas AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS d_us
        FROM events
    )
    SELECT CAST(length(bin(greatest(d_us, 1))) AS INTEGER)
               AS delta_bucket,
           count(*) AS n_gaps,
           CAST(sum(d_us) AS BIGINT) AS total_us,
           CAST(min(d_us) AS BIGINT) AS min_us,
           CAST(max(d_us) AS BIGINT) AS max_us
    FROM deltas WHERE d_us IS NOT NULL
    GROUP BY 1
    """,
)
def interarrival_dyadic_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inter-arrival-time distribution in DYADIC microsecond buckets
    (bucket = bit count of the gap — the log-free log₂ again): the
    traffic-shape fingerprint behind capacity planning and bot
    detection (human sessions produce a bimodal dyadic histogram —
    within-burst vs between-visit gaps; constant-rate automation
    collapses to one bucket). Per-user consecutive gaps via one
    lag window, exact integer microseconds end to end.

    Scale shape: one hash exchange on user_id + in-partition sort for
    the lag, then a ≤64-row bucket aggregate — the sessionize plan
    family with the histogram readout instead of islands.

    Reference basis: time-series diagnostics family (Fano burstiness
    r10, ACF r10 — this adds the gap-distribution view)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    deltas = ev.select(
        (
            F.unix_micros("ts")
            - F.lag(F.unix_micros("ts")).over(w)
        ).alias("d_us")
    ).where(F.col("d_us").isNotNull())
    return deltas.groupBy(
        F.length(F.bin(F.greatest("d_us", F.lit(1))))
        .cast("int")
        .alias("delta_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("d_us").cast("long").alias("total_us"),
        F.min("d_us").cast("long").alias("min_us"),
        F.max("d_us").cast("long").alias("max_us"),
    )


# ----------------------------- OHLC hourly bars --


@query(
    "ohlc_hourly_bars",
    oracle="""
    WITH e AS (
        SELECT event_type,
               time_bucket(INTERVAL 1 HOUR, ts) AS h,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               row_number() OVER (
                   PARTITION BY event_type,
                                time_bucket(INTERVAL 1 HOUR, ts)
                   ORDER BY ts, event_id
               ) AS rn_open,
               row_number() OVER (
                   PARTITION BY event_type,
                                time_bucket(INTERVAL 1 HOUR, ts)
                   ORDER BY ts DESC, event_id DESC
               ) AS rn_close
        FROM events
    )
    SELECT event_type,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(max(CASE WHEN rn_open = 1 THEN cents END) AS BIGINT)
               AS open_cents,
           CAST(max(cents) AS BIGINT) AS high_cents,
           CAST(min(cents) AS BIGINT) AS low_cents,
           CAST(max(CASE WHEN rn_close = 1 THEN cents END) AS BIGINT)
               AS close_cents,
           count(*) AS volume
    FROM e GROUP BY 1, 2
    """,
)
def ohlc_hourly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar construction — the canonical time-series downsampling
    (open = first value in the bucket, high/low = extremes, close =
    last, volume = count), ordered by (ts, event_id) so ties are
    deterministic: one aggregate pass with min_by/max_by over a
    composite ordering struct, no window (the oracle spells the same
    first/last via rank because DuckDB's min_by rejects struct
    ordering keys — the aggregate and window derivations must agree
    exactly, which is itself part of the grade).

    Scale shape: partial-combinable min_by/max_by/min/max/count —
    constant state per (type, hour) group, one shuffle of group rows.
    The downsampling that turns 10¹² ticks into 10⁵ bars before any
    heavier analytics runs.

    Reference basis: SURVEY §2.4 A3 (LATEST_BY_OFFSET = max_by) —
    this completes the first/last-by-order aggregate family over
    buckets."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    order = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("h"),
            cents.alias("cents"),
            order.alias("o"),
        )
        .groupBy("event_type", "h")
        .agg(
            F.expr("min_by(cents, o)").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.expr("max_by(cents, o)").alias("close_cents"),
            F.count(F.lit(1)).alias("volume"),
        )
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "open_cents",
            "high_cents",
            "low_cents",
            "close_cents",
            "volume",
        )
    )


# ----------------------------- id-sequence gap audit --


@query(
    "id_sequence_gap_audit",
    oracle="""
    WITH present AS (
        SELECT event_id AS id FROM events WHERE event_id % 7 <> 3
    ),
    marked AS (
        SELECT id,
               id - lag(id) OVER (ORDER BY id) AS step
        FROM present
    ),
    gaps AS (
        SELECT lag(id) OVER (ORDER BY id) + 1 AS gap_lo,
               id - 1 AS gap_hi
        FROM present
        QUALIFY id - lag(id) OVER (ORDER BY id) > 1
    )
    SELECT count(*) AS n_gaps,
           CAST(sum(gap_hi - gap_lo + 1) AS BIGINT) AS missing_ids,
           CAST(min(gap_lo) AS BIGINT) AS first_gap_lo,
           CAST(max(gap_hi) AS BIGINT) AS last_gap_hi,
           CAST(sum(gap_lo + gap_hi) AS BIGINT) AS gap_checksum
    FROM gaps
    """,
)
def id_sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-integrity audit — find every GAP RANGE in an id
    sequence (the offsets-lost / rows-dropped check every ingest
    pipeline runs against Kafka offsets or CDC LSNs): a planted
    filter (id % 7 = 3 removed) creates known holes; consecutive-id
    lag detects each gap's [lo, hi] range, and the summary (count,
    total missing, first/last, checksum of bounds) is exact. The
    Spark side runs the CHUNKED two-level form (SURVEY §7 risk 7:
    never a global window over raw rows — the global_peak_concurrency
    family): ids bucket by a coarse 2^16 range, lag runs inside each
    bucket in parallel, and the per-bucket (min, max) summary — one
    row per non-empty bucket — folds into ONE sorted array whose
    adjacent entries a higher-order lambda scans for gaps that
    STRADDLE bucket boundaries (runs of entirely-empty buckets
    collapse into one straddling gap between the neighbouring
    non-empty summaries). No single-partition WindowExec exists
    anywhere in the plan. The oracle is the definitional single
    global window (QUALIFY over ORDER BY id) — DuckDB can afford it
    at oracle scale, which is the point: the distributed plan must
    equal the naive one.

    Scale shape: one hash exchange on the id bucket; the only
    non-parallel work is the |buckets|-element array scan (65536 ids
    per element — a 100 TB id space summarises ~65000× smaller). At
    deployment the bucket is the natural shard (Kafka partition, LSN
    shard) and even the boundary scan parallelises per shard.

    Reference basis: ops/integrity extension of the S-family (offset
    bookkeeping the reference's consumer trusts Kafka for — made
    auditable)."""
    ev = load_table(spark, sf_dir, "events")
    present = ev.where(F.col("event_id") % 7 != 3).select(
        F.col("event_id").alias("id")
    )
    bucket_width = 1 << 16
    b = present.withColumn(
        "bkt", F.floor(F.col("id") / bucket_width).cast("long")
    )
    w_in = Window.partitionBy("bkt").orderBy("id")
    in_gaps = (
        b.select("bkt", "id", F.lag("id").over(w_in).alias("prev"))
        .where(
            F.col("prev").isNotNull()
            & (F.col("id") - F.col("prev") > 1)
        )
        .select(
            (F.col("prev") + 1).alias("gap_lo"),
            (F.col("id") - 1).alias("gap_hi"),
        )
    )
    summary = b.groupBy("bkt").agg(
        F.min("id").alias("lo"), F.max("id").alias("hi")
    )
    # the summary is |buckets| rows (65536 ids per row) — fold it into
    # ONE sorted array and scan adjacent entries with a higher-order
    # function: the boundary pass needs no window at all (and so no
    # single-partition WindowExec), just an O(|buckets|) in-row lambda
    boundary_gaps = (
        summary.agg(
            F.sort_array(
                F.collect_list(F.struct("bkt", "lo", "hi"))
            ).alias("a")
        )
        .select(
            F.explode(
                F.expr(
                    "filter(transform(sequence(1, size(a) - 1), i -> "
                    "struct(a[i - 1].hi + 1 AS gap_lo, "
                    "a[i].lo - 1 AS gap_hi)), "
                    "s -> s.gap_hi >= s.gap_lo)"
                )
            ).alias("g")
        )
        .select(F.col("g.gap_lo"), F.col("g.gap_hi"))
    )
    gaps = in_gaps.unionByName(boundary_gaps)
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("gap_hi") - F.col("gap_lo") + 1)
        .cast("long")
        .alias("missing_ids"),
        F.min("gap_lo").cast("long").alias("first_gap_lo"),
        F.max("gap_hi").cast("long").alias("last_gap_hi"),
        F.sum(F.col("gap_lo") + F.col("gap_hi"))
        .cast("long")
        .alias("gap_checksum"),
    )


# ----------------------------- TPC-H Q12: shipmode priority --


@query(
    "tpch_q12_shipmode_priority",
    oracle="""
    WITH l AS (
        SELECT l_orderkey,
               (['MAIL','SHIP','AIR','TRUCK','RAIL','FOB','REG'])
                   [CAST(l_partkey % 7 + 1 AS INT)] AS l_shipmode,
               l_shipdate
        FROM lineitem
    )
    SELECT l.l_shipmode,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipmode IN ('MAIL', 'SHIP')
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    GROUP BY 1
    """,
)
def tpch_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — shipping-mode vs order-priority audit, the
    last-but-one missing member of the 22-query suite (TESTDATA carries
    no l_shipmode/commit/receipt dates, so shipmode derives
    deterministically from l_partkey and 'late' means shipped >30 days
    after the order date — the same adaptation convention as Q4/Q21).
    The priority split is the classic conditional-aggregate pair.

    Scale shape: the shipmode filter eliminates 5/7 of lineitem BEFORE
    the one big⋈big shuffle on the order key (only orderkey+shipdate
    survive projection); orders contributes orderkey+priority+date.
    Final rollup is 2 rows. No broadcast — both sides scale with SF,
    exactly the pinned-shuffle shape tpch_q3 established.

    Reference basis: free-form join/agg family (SURVEY §2.3/§2.4);
    completes TPC-H coverage with Q17 (21/22 -> full suite this pair)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        F.element_at(
            F.array(*[F.lit(m) for m in
                      ("MAIL", "SHIP", "AIR", "TRUCK", "RAIL", "FOB",
                       "REG")]),
            (F.col("l_partkey") % 7 + 1).cast("int"),
        ).alias("l_shipmode"),
    ).where(F.col("l_shipmode").isin("MAIL", "SHIP"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    late = li.join(o, li["l_orderkey"] == o["o_orderkey"]).where(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return late.groupBy("l_shipmode").agg(
        F.sum(F.when(is_high, 1).otherwise(0))
        .cast("long")
        .alias("high_line_count"),
        F.sum(F.when(is_high, 0).otherwise(1))
        .cast("long")
        .alias("low_line_count"),
    )


# ----------------------------- TPC-H Q17: small-quantity revenue --


@query(
    "tpch_q17_small_quantity_revenue",
    oracle="""
    WITH avgq AS (
        SELECT l_partkey, sum(l_quantity) AS sq, count(*) AS cq
        FROM lineitem GROUP BY 1
    )
    SELECT p.p_brand,
           count(*) AS n_small_qty_lines,
           CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
                AS DOUBLE) / 700.0 AS avg_yearly_cents
    FROM lineitem l
    JOIN avgq a ON l.l_partkey = a.l_partkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size < 10
      AND l.l_quantity * 5.0 * a.cq < a.sq
    GROUP BY 1
    """,
)
def tpch_q17_small_quantity_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q17 shape — revenue that would vanish if small-quantity
    orders (below 20% of the part's average quantity) went away; the
    classic correlated-average-subquery benchmark, DECORRELATED the
    Spark-first way: the per-part average becomes one aggregate over
    lineitem joined back on the part key. The 20%-of-average predicate
    is spelled multiplicatively (qty * 5 * cnt < sum) so both engines
    compare exact products — quantities are whole numbers, no division
    rounding enters the filter. (TESTDATA has no p_container, so the
    dimension filter is p_size < 10; brands report per-group.)

    Scale shape: ONE shuffle of lineitem on l_partkey feeds both the
    average aggregate and the probe join — Catalyst reuses the
    exchange (same key); the part dimension arrives filtered and
    BROADCAST (two columns). The naive per-row correlated subquery
    would be a second full shuffle; this is the single-pass form.

    Reference basis: free-form join/agg family (SURVEY §2.3/§2.4);
    with Q12 this completes all 22 TPC-H shapes in the registry."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avgq = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("sq"),
        F.count(F.lit(1)).alias("cq"),
    )
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_size") < 10)
        .select("p_partkey", "p_brand")
    )
    small = (
        li.join(avgq, "l_partkey")
        .where(F.col("l_quantity") * 5.0 * F.col("cq") < F.col("sq"))
        .join(
            F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
        )
    )
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    return small.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_small_qty_lines"),
        F.sum(cents).cast("long").alias("revenue_cents"),
        (F.sum(cents).cast("double") / 700.0).alias("avg_yearly_cents"),
    )


# ------------------- Misra-Gries certified heavy hitters --


@query(
    "heavy_hitters_misra_gries_certified",
    oracle="""
    WITH keyed AS (
        SELECT CASE WHEN user_id % 3 = 0 THEN user_id % 4
                    ELSE user_id + 1000 END AS item
        FROM events
    ),
    counts AS (
        SELECT item, count(*) AS cnt FROM keyed GROUP BY 1
    ),
    tot AS (
        SELECT count(*) AS n_total,
               CAST(floor(count(*) / 16.0) AS BIGINT) AS mg_threshold
        FROM keyed
    )
    SELECT c.item,
           c.cnt AS exact_count,
           c.cnt - t.mg_threshold AS mg_counter_floor,
           t.n_total,
           t.mg_threshold
    FROM counts c CROSS JOIN tot t
    WHERE c.cnt > t.mg_threshold
    """,
)
def heavy_hitters_misra_gries_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Misra-Gries CERTIFIED heavy hitters (k = 15 counters): any item
    whose true frequency exceeds floor(N/(k+1)) is GUARANTEED to
    survive an MG pass — total decrements are bounded by N/(k+1) — and
    its final counter is at least f_i − floor(N/(k+1)). The graded row
    outputs the guaranteed-survivor set with exact frequencies and the
    certified counter floor, over a planted-skew key (every third user
    collapses to one of 4 hot items; the rest form the long tail). The
    certificate is deterministic arithmetic over EXACT counts — not an
    emulated merge, whose result would depend on partition order — the
    same convention as the countmin (r10) and GK (r10) certificates.

    Scale shape: one map-side-combinable count aggregate (the key
    space after collapse is |hot| + |users|, bounded), one 1-row total
    broadcast. MG itself exists to AVOID the exact count at scale; the
    certificate row grades the guarantee the sketch must honour.

    Reference basis: sketch/certificate family (countmin r10,
    collision_probability r10, hll r10)."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.when(
            F.col("user_id") % 3 == 0, F.col("user_id") % 4
        )
        .otherwise(F.col("user_id") + 1000)
        .alias("item")
    )
    counts = keyed.groupBy("item").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    tot = keyed.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.floor(F.count(F.lit(1)) / 16.0)
        .cast("long")
        .alias("mg_threshold"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .where(F.col("exact_count") > F.col("mg_threshold"))
        .select(
            "item",
            "exact_count",
            (F.col("exact_count") - F.col("mg_threshold")).alias(
                "mg_counter_floor"
            ),
            "n_total",
            "mg_threshold",
        )
    )


# ------------------- TABLESAMPLE REPEATABLE certificate --


@query(
    "tablesample_repeatable_certified",
    oracle="""
    SELECT count(*) AS n_total,
           CAST(floor(count(*) * 0.1
                      - 6.0 * sqrt(count(*) * 0.1 * 0.9)) AS BIGINT)
               AS bound_lo,
           CAST(floor(count(*) * 0.1
                      + 6.0 * sqrt(count(*) * 0.1 * 0.9)) AS BIGINT) + 1
               AS bound_hi,
           TRUE AS within_bounds,
           TRUE AS repeatable,
           TRUE AS subset_ok
    FROM events
    """,
)
def tablesample_repeatable_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TABLESAMPLE (10 PERCENT) REPEATABLE(seed) — the SQL sampling
    surface, graded as a CERTIFICATE because no oracle can replay
    Spark's Bernoulli RNG: (a) within_bounds — the sample size lands
    inside the 6-sigma binomial envelope (miss probability ~1e-9, and
    the envelope itself is deterministic IEEE arithmetic both engines
    compute identically: mul/sqrt/floor are all correctly rounded);
    (b) repeatable — two independent TABLESAMPLE scans with the same
    seed return the SAME multiset (symmetric exceptAll both ways is
    empty); (c) subset_ok — an anti-join of the sample against the
    base table is empty. The oracle states the same three facts plus
    the identical envelope arithmetic on the exact row count.

    Scale shape: sampling is a scan-level filter (no shuffle); the
    repeatability check is one sort-merge exceptAll pair on the
    sampled ~10% (seed + split determinism is exactly what makes
    sampled pipelines re-runnable at 100 TB); the subset check is a
    left-anti semi-join. All three verdicts reduce to 1-row counts.

    Reference basis: sampling family extension (stratified_sample r3,
    deterministic_corpus_shuffle r7, weighted_sample_priority r10)."""
    ev = load_table(spark, sf_dir, "events").select("event_id")
    view = "events_tablesample_probe"
    ev.createOrReplaceTempView(view)
    q = (
        f"SELECT event_id FROM {view} "
        f"TABLESAMPLE (10 PERCENT) REPEATABLE (42)"
    )
    s1 = spark.sql(q)
    s2 = spark.sql(q)
    n_diff = (
        s1.exceptAll(s2).unionByName(s2.exceptAll(s1))
        .agg(F.count(F.lit(1)).alias("n_diff"))
    )
    n_notin = (
        s1.join(ev, "event_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_notin"))
    )
    n_sampled = s1.agg(F.count(F.lit(1)).alias("n_sampled"))
    mu = F.col("n_total") * 0.1
    sigma = F.sqrt(F.col("n_total") * 0.1 * 0.9)
    return (
        ev.agg(F.count(F.lit(1)).alias("n_total"))
        .crossJoin(F.broadcast(n_sampled))
        .crossJoin(F.broadcast(n_diff))
        .crossJoin(F.broadcast(n_notin))
        .select(
            "n_total",
            F.floor(mu - 6.0 * sigma).cast("long").alias("bound_lo"),
            (F.floor(mu + 6.0 * sigma).cast("long") + 1).alias(
                "bound_hi"
            ),
            (
                (F.col("n_sampled")
                 >= F.floor(mu - 6.0 * sigma).cast("long"))
                & (F.col("n_sampled")
                   <= F.floor(mu + 6.0 * sigma).cast("long") + 1)
            ).alias("within_bounds"),
            (F.col("n_diff") == 0).alias("repeatable"),
            (F.col("n_notin") == 0).alias("subset_ok"),
        )
    )


# ------------------- per-source Zipf dyadic tail mass --


@query(
    "zipf_tail_mass_by_source",
    oracle="""
    WITH tf AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT source, tok, count(*) AS n FROM tf GROUP BY 1, 2
    ),
    ranked AS (
        SELECT source, n,
               row_number() OVER (
                   PARTITION BY source ORDER BY n DESC, tok
               ) AS r
        FROM counts
    )
    SELECT source,
           CAST(length(bin(r)) AS INTEGER) AS rank_bucket,
           count(*) AS n_tokens,
           CAST(sum(n) AS BIGINT) AS mass,
           CAST(min(r) AS BIGINT) AS rank_lo,
           CAST(max(r) AS BIGINT) AS rank_hi
    FROM ranked GROUP BY 1, 2
    """,
)
def zipf_tail_mass_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-SOURCE Zipf tail diagnostics — the dyadic rank-mass readout
    (vocab_dyadic_rank_mass, graduated r12) partitioned by corpus
    source: each source's token ranks bucket dyadically (bit length of
    the rank — exact integers where log2 would be libm) and report
    per-bucket token count and mass. The per-source comparison is the
    actual curation decision input: a source whose head bucket carries
    an outsized share is boilerplate-heavy; a flat tail signals
    scraped noise — THE mixture-weighting diagnostic, per source.

    Scale shape: token counts aggregate on (source, token) — one
    map-combinable shuffle, key space = Σ per-source vocabularies;
    the ranking window partitions BY SOURCE (parallel across sources,
    input |vocab_s| each, never corpus rows); final ≤40-row-per-source
    bucket rollup. The global twin's scale argument, sharded.

    Reference basis: LLM-pipeline vocabulary family
    (vocab_dyadic_rank_mass r11-cohort, vocab_top_tokens r3)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("tok"))
    ranked = counts.select(
        "source", "n", F.row_number().over(w).alias("r")
    )
    return ranked.groupBy(
        "source",
        F.length(F.bin("r")).cast("int").alias("rank_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("n").cast("long").alias("mass"),
        F.min("r").cast("long").alias("rank_lo"),
        F.max("r").cast("long").alias("rank_hi"),
    )


# ----------------------------- OOV rate by source --


@query(
    "oov_rate_by_source",
    oracle="""
    WITH tf AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, count(*) AS n,
                   row_number() OVER (ORDER BY count(*) DESC, tok) AS r
            FROM tf GROUP BY tok
        ) WHERE r <= 500
    )
    SELECT tf.source,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           count(DISTINCT CASE WHEN v.tok IS NULL THEN tf.tok END)
               AS n_distinct_oov
    FROM tf LEFT JOIN vocab v ON tf.tok = v.tok
    GROUP BY tf.source
    """,
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against a top-500 corpus
    vocabulary — the tokenizer-coverage audit run before committing a
    vocab: a source whose OOV mass is high will fragment into bytes /
    unk tokens and train poorly at its nominal mixture weight. Rank
    ties break lexicographically (count DESC, token) so the vocab set
    is deterministic cross-engine; OOV membership via LEFT JOIN null
    probes, counted both raw and distinct.

    Scale shape: token-count aggregate (vocab-bounded) → top-500 via
    one vocab-sized ranking window → BROADCAST of the 500-row vocab
    into the token stream (no shuffle of corpus tokens for the
    membership probe); the per-source rollup is the only data
    exchange. The distinct-OOV count adds a (source, token) dedup
    bounded by per-source vocabulary.

    Reference basis: LLM-pipeline vocabulary family (vocab_top_tokens
    r3, collision_probability r10, zipf_tail_mass_by_source staged)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    counts = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    vocab = (
        counts.select("tok", F.row_number().over(w).alias("r"))
        .where(F.col("r") <= 500)
        .select(F.col("tok").alias("vtok"))
    )
    probed = tf.join(
        F.broadcast(vocab), tf["tok"] == F.col("vtok"), "left"
    )
    return probed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("vtok").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.count_distinct(
            F.when(F.col("vtok").isNull(), F.col("tok"))
        ).alias("n_distinct_oov"),
    )


# ------------------- mixture epoch planner (capped water-filling) --


@query(
    "mixture_epoch_repeat_planner",
    oracle="""
    WITH per_src AS (
        SELECT source,
               CAST(sum(n_chars) AS BIGINT) AS tokens,
               CAST(substring(source, 4) AS BIGINT) % 4 + 1 AS weight,
               CAST(4 * sum(n_chars) AS BIGINT) AS cap
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(2 * sum(tokens) AS BIGINT) AS b,
               CAST(sum(weight) AS BIGINT) AS w_total
        FROM per_src
    ),
    ordered AS (
        SELECT p.*, t.b, t.w_total,
               row_number() OVER ord AS pos,
               CAST(coalesce(sum(cap) OVER (
                   ord ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS BIGINT)
                   AS cumcap_prev,
               CAST(coalesce(sum(weight) OVER (
                   ord ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS BIGINT)
                   AS cumw_prev
        FROM per_src p CROSS JOIN tot t
        WINDOW ord AS (ORDER BY CAST(cap AS DOUBLE) / weight, source)
    ),
    marked AS (
        SELECT *,
               CAST(((b - cumcap_prev) * 1000000)
                    // (w_total - cumw_prev) AS BIGINT) AS r_k,
               cap * 1000000
                   <= (((b - cumcap_prev) * 1000000)
                       // (w_total - cumw_prev)) * weight AS saturated
        FROM ordered
    ),
    rstar AS (
        SELECT CAST(min_by(r_k, pos) AS BIGINT) AS r_star
        FROM marked WHERE NOT saturated
    )
    SELECT m.source, m.tokens, m.weight, m.cap,
           CAST(CASE WHEN m.saturated OR r.r_star IS NULL THEN m.cap
                     ELSE (m.weight * r.r_star) // 1000000 END
                AS BIGINT) AS allocation,
           CAST((CASE WHEN m.saturated OR r.r_star IS NULL THEN m.cap
                      ELSE (m.weight * r.r_star) // 1000000 END
                 * 1000000) // m.tokens AS BIGINT) AS epochs_e6
    FROM marked m CROSS JOIN rstar r
    """,
)
def mixture_epoch_repeat_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Training-mixture EPOCH planner — capped proportional allocation
    (water-filling): split a token budget B = 2x the corpus across
    sources proportionally to target weights, but cap every source at
    4 epochs of its own tokens (the repeat ceiling after which
    memorization outpaces learning — the Muennighoff-et-al data-
    constrained regime). Closed form: sort sources by cap/weight
    ascending; a prefix saturates at its cap, the rest share the
    remaining budget at a common rate r* — found where the running
    rate (budget left over weight left, exact integer floor at 1e-6
    grain) first drops below a source's saturation threshold. All
    comparisons are exact integer arithmetic; the only double is the
    SORT KEY (IEEE division — correctly rounded, identical both
    engines). Weights derive from the numeric source suffix (mod 4).

    Scale shape: one per-source aggregate (the only data shuffle);
    the water-filling itself runs on the |sources|-row summary (20
    here, rarely >10^3 in practice) — one bounded ordered window +
    one 1-row broadcast. Planner cost is independent of corpus size.

    Reference basis: LLM-pipeline mixture family
    (mixture_quota_largest_remainder r8 allocates an exact integer
    budget; this adds the repeat-cap water-filling form,
    temperature_mixture_quota r8 the temperature form)."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("tokens")
    ).select(
        "source",
        "tokens",
        (F.expr("CAST(substring(source, 4) AS BIGINT)") % 4 + 1).alias(
            "weight"
        ),
        (F.col("tokens") * 4).alias("cap"),
    )
    # the summary frame is |sources| rows — collapse to one partition
    # so the ordered window and both broadcasts run as single tasks
    per_src = per_src.coalesce(1)
    tot = per_src.agg(
        (F.sum("tokens") * 2).cast("long").alias("b"),
        F.sum("weight").cast("long").alias("w_total"),
    )
    ord_w = Window.orderBy(
        (F.col("cap").cast("double") / F.col("weight")).asc(),
        F.col("source"),
    )
    prev = ord_w.rowsBetween(Window.unboundedPreceding, -1)
    ordered = per_src.crossJoin(F.broadcast(tot)).select(
        "*",
        F.row_number().over(ord_w).alias("pos"),
        F.coalesce(F.sum("cap").over(prev), F.lit(0))
        .cast("long")
        .alias("cumcap_prev"),
        F.coalesce(F.sum("weight").over(prev), F.lit(0))
        .cast("long")
        .alias("cumw_prev"),
    )
    r_k = F.expr(
        "((b - cumcap_prev) * 1000000) DIV (w_total - cumw_prev)"
    )
    marked = ordered.select(
        "*",
        r_k.cast("long").alias("r_k"),
        (F.col("cap") * 1000000 <= r_k * F.col("weight")).alias(
            "saturated"
        ),
    )
    rstar = marked.where(~F.col("saturated")).agg(
        F.expr("min_by(r_k, pos)").cast("long").alias("r_star")
    )
    alloc = F.when(
        F.col("saturated") | F.col("r_star").isNull(), F.col("cap")
    ).otherwise(F.expr("(weight * r_star) DIV 1000000"))
    return marked.crossJoin(F.broadcast(rstar)).select(
        "source",
        "tokens",
        "weight",
        "cap",
        alloc.cast("long").alias("allocation"),
        (
            F.when(
                F.col("saturated") | F.col("r_star").isNull(),
                F.col("cap"),
            ).otherwise(F.expr("(weight * r_star) DIV 1000000"))
            * 1000000
        )
        .cast("long")
        .alias("epochs_e6_num"),
    ).select(
        "source",
        "tokens",
        "weight",
        "cap",
        "allocation",
        F.expr("epochs_e6_num DIV tokens")
        .cast("long")
        .alias("epochs_e6"),
    )


# ------------------- quality threshold sweep (confusion matrix) --


@query(
    "quality_threshold_sweep_confusion",
    oracle="""
    WITH scored AS (
        SELECT (1000 * (length(text) - length(replace(text, ' ', ''))))
                   // n_chars AS score_e3,
               CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END AS pos
        FROM documents WHERE n_chars > 0
    ),
    thr AS (SELECT 120 + 10 * i AS thr_e3 FROM range(10) t(i))
    SELECT t.thr_e3,
           CAST(sum(CASE WHEN s.score_e3 >= t.thr_e3 AND s.pos = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN s.score_e3 >= t.thr_e3 AND s.pos = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN s.score_e3 < t.thr_e3 AND s.pos = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(sum(CASE WHEN s.score_e3 < t.thr_e3 AND s.pos = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS tn
    FROM scored s CROSS JOIN thr t
    GROUP BY t.thr_e3
    """,
)
def quality_threshold_sweep_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filter-threshold SWEEP — the confusion matrix of a quality
    score against labels at 10 candidate cutoffs in one pass: the
    operating-point selection step between scoring (quality scores
    graded since r2) and filtering (token_budget_selection flagship).
    Score = whitespace density at 1e-3 grain (pure integer floor
    division — replace(), not regex, so both engines count
    identically); labels are planted (doc_id mod 5). The oracle
    cross-joins documents x thresholds directly — the definitional
    form.

    Scale shape: the Spark plan does NOT multiply the corpus by 10:
    scores first collapse into a (score_e3, label) HISTOGRAM (one
    map-combinable aggregate, <=2002 cells), and the threshold sweep
    cross-joins the bounded histogram — corpus scanned once, sweep
    cost independent of rows. Adding thresholds is free; that is the
    point at 100 TB (tuning sweeps must not rescan).

    Reference basis: LLM-pipeline curation family
    (quality_cdf_normalize r7, score_calibration_bins staged,
    binned_ks_statistic r10)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("n_chars") > 0
    )
    scored = docs.select(
        F.expr(
            "(1000 * (length(text) - length(replace(text, ' ', ''))))"
            " DIV n_chars"
        ).alias("score_e3"),
        F.when(F.col("doc_id") % 5 != 0, 1).otherwise(0).alias("pos"),
    )
    hist = scored.groupBy("score_e3", "pos").agg(
        F.count(F.lit(1)).alias("n")
    )
    thr = spark.range(10).select(
        (120 + 10 * F.col("id")).cast("long").alias("thr_e3")
    )
    swept = hist.crossJoin(F.broadcast(thr))
    hit = F.col("score_e3") >= F.col("thr_e3")
    pos = F.col("pos") == 1
    return swept.groupBy("thr_e3").agg(
        F.sum(F.when(hit & pos, F.col("n")).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(hit & ~pos, F.col("n")).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(~hit & pos, F.col("n")).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(~hit & ~pos, F.col("n")).otherwise(0))
        .cast("long")
        .alias("tn"),
    )


# ------------------- feature-store point-in-time join --


@query(
    "feature_store_pit_join",
    oracle="""
    WITH spine AS (
        SELECT event_id, user_id, event_type, ts FROM events
        WHERE event_id % 50 = 0
    ),
    ufeat AS (
        SELECT user_id, ts,
               CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                   AS u_feat
        FROM events WHERE event_id % 7 = 0 GROUP BY user_id, ts
    ),
    tfeat AS (
        SELECT event_type, ts,
               CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                   AS t_feat
        FROM events WHERE event_id % 11 = 0 GROUP BY event_type, ts
    )
    SELECT s.event_id, s.user_id, s.event_type,
           strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
           u.u_feat, t.t_feat
    FROM spine s
    ASOF LEFT JOIN ufeat u
        ON s.user_id = u.user_id AND s.ts >= u.ts
    ASOF LEFT JOIN tfeat t
        ON s.event_type = t.event_type AND s.ts >= t.ts
    """,
)
def feature_store_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store POINT-IN-TIME join — the training-set assembly
    step every feature platform runs: a label spine enriched from TWO
    feature tables at different grains (per-user and per-event-type
    snapshots), each via as-of semantics (latest feature row at or
    before the spine timestamp — never after: the leakage rule). The
    oracle is DuckDB's native ASOF LEFT JOIN chain; Spark has no ASOF
    operator, so each enrichment is the union-tag + last-carry
    formulation (operators/joins.py:48 — one shuffle per feature
    grain, no inequality join, no broadcast). Feature tables are
    pre-aggregated per (key, ts) so the as-of pick is deterministic.

    Scale shape: each feature join costs exactly one hash exchange on
    its own key (user, then type) + an in-partition ordered carry —
    the chained grains don't multiply (output stays |spine| rows).
    This is the N-feature-table pattern at any scale; skew follows
    the key like any groupBy.

    Reference basis: as-of family composition (asof_join_latest_view
    r6, asof_tolerance_join r9, asof_nearest_join r11-cohort) — the
    multi-grain feature-store form."""
    from sparkksqldbbenchmark_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    spine = ev.where(F.col("event_id") % 50 == 0).select(
        "event_id", "user_id", "event_type", "ts"
    )
    ufeat = (
        ev.where(F.col("event_id") % 7 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max(cents).alias("u_feat"))
    )
    tfeat = (
        ev.where(F.col("event_id") % 11 == 0)
        .groupBy("event_type", "ts")
        .agg(F.max(cents).alias("t_feat"))
    )
    step1 = asof_join(
        spine, ufeat, on=["user_id"], ts_col="ts",
        payload_cols=["u_feat"],
    )
    step2 = asof_join(
        step1, tfeat, on=["event_type"], ts_col="ts",
        payload_cols=["t_feat"],
    )
    return step2.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        "u_feat",
        "t_feat",
    )


# ------------------- token PMI collocations (vocab-bounded) --


@query(
    "token_pmi_top_pairs",
    oracle="""
    WITH tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, row_number() OVER (
                       ORDER BY count(*) DESC, tok) AS r
            FROM tf GROUP BY tok
        ) WHERE r <= 64
    ),
    inc AS (
        SELECT DISTINCT tf.doc_id, tf.tok
        FROM tf JOIN vocab v ON tf.tok = v.tok
    ),
    n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    marg AS (SELECT tok, count(*) AS nx FROM inc GROUP BY tok),
    pairs AS (
        SELECT a.tok AS tok_u, b.tok AS tok_v, count(*) AS n_xy
        FROM inc a JOIN inc b
            ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT p.tok_u, p.tok_v, p.n_xy, mu.nx AS n_x, mv.nx AS n_y,
               CAST((p.n_xy * d.n * 1000000)
                    // (mu.nx * mv.nx) AS BIGINT) AS lift_e6
        FROM pairs p
        JOIN marg mu ON p.tok_u = mu.tok
        JOIN marg mv ON p.tok_v = mv.tok
        CROSS JOIN n_docs d
    )
    SELECT tok_u, tok_v,
           CAST(n_xy AS BIGINT) AS n_xy,
           CAST(n_x AS BIGINT) AS n_x,
           CAST(n_y AS BIGINT) AS n_y,
           lift_e6
    FROM (
        SELECT *, row_number() OVER (
                   ORDER BY lift_e6 DESC, tok_u, tok_v) AS rk
        FROM scored
    ) WHERE rk <= 20
    """,
)
def token_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining — top token pairs by PMI LIFT
    p(x,y)/(p(x)p(y)), the phrase/boilerplate detector (a lift near
    the document count means the pair only ever co-occurs — template
    text dedup misses): document-level co-occurrence restricted to
    the top-64 vocabulary, lift as an exact integer ratio at 1e-6
    grain (log-free — ranking by lift IS ranking by PMI since log is
    monotone, the repo's standard libm dodge), ties lexicographic.

    Scale shape: the candidate space is VOCAB-BOUNDED, never
    corpus-bounded — incidence rows per doc <= 64 (broadcast vocab
    semi-filter), the pair self-join is per-doc and emits <= 2016
    pairs/doc into a map-combinable count, and marginals broadcast
    back into the 64x63/2-row pair frame. Corpus size only enters
    through one incidence-build scan. The same shape serves stopword
    discovery and tokenizer merge scoring at 100 TB.

    Reference basis: LLM-pipeline vocabulary family
    (bpe_pair_merge_candidates r11-cohort counts ADJACENT pairs for
    the tokenizer; this is the document-grain associative twin)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    counts = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    vocab = (
        counts.select("tok", F.row_number().over(w).alias("r"))
        .where(F.col("r") <= 64)
        .select("tok")
    )
    inc = tf.join(F.broadcast(vocab), "tok").distinct()
    n_docs = docs.agg(
        F.count_distinct("doc_id").alias("n_total_docs")
    )
    marg = inc.groupBy("tok").agg(F.count(F.lit(1)).alias("nx"))
    a = inc.select(F.col("doc_id"), F.col("tok").alias("tok_u"))
    b = inc.select(F.col("doc_id"), F.col("tok").alias("tok_v"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("tok_u") < F.col("tok_v"))
        .groupBy("tok_u", "tok_v")
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    scored = (
        pairs.join(
            F.broadcast(marg.select(F.col("tok").alias("tok_u"),
                                    F.col("nx").alias("n_x"))),
            "tok_u",
        )
        .join(
            F.broadcast(marg.select(F.col("tok").alias("tok_v"),
                                    F.col("nx").alias("n_y"))),
            "tok_v",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok_u",
            "tok_v",
            F.col("n_xy").cast("long").alias("n_xy"),
            F.col("n_x").cast("long").alias("n_x"),
            F.col("n_y").cast("long").alias("n_y"),
            F.expr("(n_xy * n_total_docs * 1000000) DIV (n_x * n_y)")
            .cast("long")
            .alias("lift_e6"),
        )
    )
    wk = Window.orderBy(
        F.desc("lift_e6"), F.asc("tok_u"), F.asc("tok_v")
    )
    return (
        scored.select(
            "*", F.row_number().over(wk).alias("rk")
        )
        .where(F.col("rk") <= 20)
        .drop("rk")
    )


# ------------------- chi-square uniformity by type --


@query(
    "chi_square_uniformity_by_type",
    oracle="""
    WITH cells AS (
        SELECT event_type, user_id % 10 AS cell, count(*) AS o
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, CAST(sum(o) AS BIGINT) AS n,
               count(*) AS k
        FROM cells GROUP BY 1
    )
    SELECT c.event_type,
           t.n,
           CAST(t.k AS BIGINT) AS n_cells_present,
           CAST(((sum((10 * c.o - t.n) * (10 * c.o - t.n))
                  + (10 - t.k) * t.n * t.n) * 1000000)
                // (10 * t.n) AS BIGINT) AS chi2_e6,
           9 AS df
    FROM cells c JOIN tot t USING (event_type)
    GROUP BY c.event_type, t.n, t.k
    """,
)
def chi_square_uniformity_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chi-square uniformity statistic per event type — does the user
    bucket (user_id mod 10) hit each type uniformly? The load-balance
    / A-A-test primitive behind skew alarms and randomization audits.
    Computed EXACTLY in integers at 1e-6 grain: chi2 = sum((O - E)^2
    / E) with E = n/10 rewritten as (sum((10*O - n)^2) + absent-cell
    mass) / (10 * n) — one integer floor division at the end, no
    doubles anywhere (the r10 binned_ks_statistic convention). Absent
    cells contribute n^2 each so the statistic is correct even on a
    type too rare to hit all 10 buckets.

    Scale shape: one (type, cell) count aggregate — key space is
    10 x |types|, map-combinable — then a <=10-row-per-type rollup
    joined to its own total. No windows, no corpus re-scan.

    Reference basis: analytic-statistics family (binned_ks_statistic
    r10 two-sample distance, benford_leading_digit r10 digit-law,
    fano_burstiness r10 — this adds the goodness-of-fit member)."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % 10).alias("cell")
    ).agg(F.count(F.lit(1)).alias("o"))
    tot = cells.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("n"),
        F.count(F.lit(1)).alias("k"),
    )
    joined = cells.join(tot, "event_type")
    dev = 10 * F.col("o") - F.col("n")
    return joined.groupBy("event_type", "n", "k").agg(
        F.sum(dev * dev).alias("sum_sq")
    ).select(
        "event_type",
        "n",
        F.col("k").cast("long").alias("n_cells_present"),
        F.expr(
            "((sum_sq + (10 - k) * n * n) * 1000000) DIV (10 * n)"
        )
        .cast("long")
        .alias("chi2_e6"),
        F.lit(9).cast("int").alias("df"),
    )


# ------------------- incremental aggregate maintenance (IVM) --


@query(
    "ivm_aggregate_delta_merge",
    oracle="""
    SELECT event_type,
           CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS day_us,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           CAST(min(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_min,
           CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_max,
           CAST(max(event_id) AS BIGINT) AS hwm_event_id
    FROM events GROUP BY 1, 2
    """,
)
def ivm_aggregate_delta_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental VIEW MAINTENANCE of a daily aggregate — the
    materialized-rollup refresh every warehouse runs: the standing
    aggregate was built from the already-ingested rows (event_id mod
    10 != 0), a late micro-batch (mod 10 == 0) arrives, and the
    refresh merges the two PARTIAL STATES instead of rescanning
    history — count adds, sum adds, min/max fold, and the high-water
    mark advances. FULL OUTER on the group key so delta-only groups
    appear and base-only groups survive. The oracle is the full
    recompute over everything — the IVM correctness contract is
    exactly 'merge of partials == recompute', which only holds when
    every statistic kept is mergeable (avg would need sum+count kept
    separately; stddev the sum-of-squares — the discipline this row
    pins).

    Scale shape: the delta aggregate costs |delta|, not |history|;
    the merge joins two group-keyed summaries (day x type cardinality,
    bounded by the calendar) — at 100 TB the base summary is a table
    you JOIN, never a corpus you rescan. Same partials discipline as
    the streaming update-mode state.

    Reference basis: SURVEY §2.4 A1/A8 maintained-view form; batch
    twin of the T3 update-mode streaming semantics (the reference
    maintains its windowed table continuously — this is the
    batch-refresh equivalent)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type",
            F.unix_micros(F.date_trunc("day", "ts")).alias("day_us"),
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("cents_sum"),
            F.min(cents).alias("cents_min"),
            F.max(cents).alias("cents_max"),
            F.max("event_id").alias("hwm_event_id"),
        )

    base = agg(ev.where(F.col("event_id") % 10 != 0))
    delta = agg(ev.where(F.col("event_id") % 10 == 0))
    b = base.select(
        "event_type", "day_us",
        *[F.col(c).alias(f"b_{c}") for c in
          ("n", "cents_sum", "cents_min", "cents_max", "hwm_event_id")],
    )
    d = delta.select(
        "event_type", "day_us",
        *[F.col(c).alias(f"d_{c}") for c in
          ("n", "cents_sum", "cents_min", "cents_max", "hwm_event_id")],
    )
    merged = b.join(d, ["event_type", "day_us"], "full_outer")

    def fold(col: str, how) -> F.Column:
        return F.when(
            F.col(f"b_{col}").isNull(), F.col(f"d_{col}")
        ).when(
            F.col(f"d_{col}").isNull(), F.col(f"b_{col}")
        ).otherwise(how(F.col(f"b_{col}"), F.col(f"d_{col}")))

    return merged.select(
        "event_type",
        "day_us",
        fold("n", lambda a, c: a + c).cast("long").alias("n"),
        fold("cents_sum", lambda a, c: a + c)
        .cast("long")
        .alias("cents_sum"),
        fold("cents_min", F.least).cast("long").alias("cents_min"),
        fold("cents_max", F.greatest).cast("long").alias("cents_max"),
        fold("hwm_event_id", F.greatest)
        .cast("long")
        .alias("hwm_event_id"),
    )


# ------------------- embedding prefix energy (Matryoshka audit) --


@query(
    "embedding_prefix_energy",
    oracle="""
    WITH q AS (
        SELECT vec_id, j - 1 AS j,
               CAST(floor(e * 1000) AS BIGINT) AS qv
        FROM (SELECT vec_id, unnest(embedding) AS e,
                     generate_subscripts(embedding, 1) AS j
              FROM embeddings)
    ),
    ks AS (SELECT unnest([8, 16, 32, 64]) AS k),
    energy AS (
        SELECT k.k,
               CAST(sum(CASE WHEN q.j < k.k THEN q.qv * q.qv
                             ELSE 0 END) AS BIGINT) AS prefix_energy,
               CAST(sum(q.qv * q.qv) AS BIGINT) AS total_energy,
               count(DISTINCT q.vec_id) AS n_vecs
        FROM q CROSS JOIN ks k GROUP BY k.k
    )
    SELECT k, prefix_energy, total_energy, n_vecs,
           CAST((prefix_energy * 1000000) // total_energy AS BIGINT)
               AS energy_ratio_e6
    FROM energy
    """,
)
def embedding_prefix_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style PREFIX-ENERGY audit — how much of the corpus
    embedding norm the first k dimensions carry (k = 8/16/32/64): the
    decision input for truncating stored vectors before ANN (the
    Kusupati-et-al matryoshka deployment question — can search run on
    a 16-dim prefix?). Energy in exact integers (the repo's e3
    quantization, squared and summed — no floats anywhere), the final
    ratio one integer floor division at 1e-6 grain.

    Scale shape: one posexplode scan of the embedding matrix with the
    per-(vec, dim) term folded into a 4-key partial aggregate — the
    k-sweep multiplies the 4-row KS frame, never the matrix (the
    CASE-per-k runs inside one pass). At 100 TB of vectors this is a
    single scan-bound aggregate, same as the PCA matvec.

    Reference basis: LLM-pipeline embedding family
    (embedding_quantization r6, pq_quantization_error r9,
    pca_power_iteration_1d r11-cohort)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("j", "e"),
    ).select(
        "vec_id",
        "j",
        F.floor(F.col("e").cast("double") * 1000)
        .cast("long")
        .alias("qv"),
    )
    ks = spark.range(4).select(
        F.element_at(
            F.array(*[F.lit(x) for x in (8, 16, 32, 64)]),
            (F.col("id") + 1).cast("int"),
        )
        .cast("long")
        .alias("k")
    )
    energy = (
        q.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(
                F.when(
                    F.col("j") < F.col("k"),
                    F.col("qv") * F.col("qv"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("prefix_energy"),
            F.sum(F.col("qv") * F.col("qv"))
            .cast("long")
            .alias("total_energy"),
            F.count_distinct("vec_id").alias("n_vecs"),
        )
    )
    return energy.select(
        "k",
        "prefix_energy",
        "total_energy",
        "n_vecs",
        F.expr("(prefix_energy * 1000000) DIV total_energy")
        .cast("long")
        .alias("energy_ratio_e6"),
    )


# ------------------- hard-negative mining (contrastive pairs) --


@query(
    "hard_negative_mining_topk",
    oracle="""
    WITH q AS (
        SELECT vec_id, label, j - 1 AS j,
               CAST(floor(e * 1000) AS BIGINT) AS qv
        FROM (SELECT vec_id, label, unnest(embedding) AS e,
                     generate_subscripts(embedding, 1) AS j
              FROM embeddings)
    ),
    anchors AS (SELECT * FROM q WHERE vec_id % 20 = 0),
    dots AS (
        SELECT a.vec_id AS anchor_id,
               max(a.label) AS anchor_label,
               b.vec_id AS neg_id,
               max(b.label) AS neg_label,
               CAST(sum(a.qv * b.qv) AS BIGINT) AS dot
        FROM anchors a
        JOIN q b ON a.j = b.j AND a.label <> b.label
        GROUP BY a.vec_id, b.vec_id
    )
    SELECT anchor_id, anchor_label, neg_id, neg_label, dot
    FROM dots
    QUALIFY row_number() OVER (
        PARTITION BY anchor_id ORDER BY dot DESC, neg_id) = 1
    """,
)
def hard_negative_mining_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive training — for each
    anchor vector, the single most-similar vector with a DIFFERENT
    label (the negative that actually teaches the margin; random
    negatives are too easy and stall the loss). Dots are exact
    integers on the e3-quantized matrix; ties break to the lowest
    candidate id. First graded use of the embeddings LABEL column.

    Scale shape: anchors are a 1/20 id-slice, so the scored pair
    space is |anchors| x |corpus| — a BROADCAST of the (bounded)
    anchor matrix into one scan of the corpus, grouped per (anchor,
    candidate) with map-side combine on the dim join. At 100 TB the
    corpus side stays a single scan; production narrows candidates
    further with the graded IVF/LSH buckets (similarity_ivf_topk r6,
    ann_lsh r5) — this row pins the exact semantics those
    approximations must approach.

    Reference basis: LLM-pipeline embedding family (similarity_topk
    r3, ann certificates r9/r10, pq_quantization_error r9)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("j", "e"),
    ).select(
        "vec_id",
        "label",
        "j",
        F.floor(F.col("e").cast("double") * 1000)
        .cast("long")
        .alias("qv"),
    )
    anchors = q.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("j").alias("anchor_j"),
        F.col("qv").alias("aqv"),
    )
    dots = (
        q.join(
            F.broadcast(anchors),
            (q["j"] == anchors["anchor_j"])
            & (q["label"] != anchors["anchor_label"]),
        )
        .groupBy("anchor_id", "vec_id")
        .agg(
            F.max("anchor_label").alias("anchor_label"),
            F.max("label").alias("neg_label"),
            F.sum(F.col("aqv") * F.col("qv")).alias("dot"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("dot"), F.asc("vec_id")
    )
    return (
        dots.select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("neg_id"),
            "neg_label",
            F.col("dot").cast("long").alias("dot"),
            F.row_number().over(w).alias("rk"),
        )
        .where(F.col("rk") == 1)
        .drop("rk")
    )


# ------------------- per-doc span interval union --


@query(
    "doc_span_interval_union",
    oracle="""
    WITH spans AS (
        SELECT doc_id,
               (doc_id * 7 + i * 13) % 200 AS s,
               (doc_id * 7 + i * 13) % 200 + 10 + (i * 5) % 20 AS e
        FROM documents
        CROSS JOIN (SELECT unnest(range(4)) AS i)
        WHERE i < doc_id % 3 + 2
    ),
    marked AS (
        SELECT doc_id, s, e,
               CASE WHEN s > coalesce(max(e) OVER (
                        PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS is_new
        FROM spans
    ),
    islands AS (
        SELECT doc_id, s, e,
               sum(is_new) OVER (
                   PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM marked
    ),
    merged AS (
        SELECT doc_id, island,
               CAST(min(s) AS BIGINT) AS lo,
               CAST(max(e) AS BIGINT) AS hi,
               count(*) AS n_in
        FROM islands GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(n_in) AS BIGINT) AS n_spans_in,
           count(*) AS n_merged,
           CAST(sum(hi - lo) AS BIGINT) AS covered_chars,
           CAST(max(hi - lo) AS BIGINT) AS max_island_len
    FROM merged GROUP BY doc_id
    """,
)
def doc_span_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SPAN-ANNOTATION merge — union overlapping
    [start, end) spans into disjoint islands and report coverage: the
    normalization step behind PII redaction spans, decontamination
    match spans and OCR block merging, where downstream must never
    double-count overlapped characters. Spans are planted
    deterministically per doc (2-4 spans, arithmetic start/length);
    the merge is the gaps-and-islands pattern — new island when a
    span starts past the running max end — and the graded output is
    each doc's merged-island statistics.

    Scale shape: spans group by doc_id — one hash exchange, windows
    run per doc over <=4 rows (the grain is the document, exactly like
    sessionize's per-user grain; no global ordering anywhere). The
    same plan at billions of docs is embarrassingly parallel.

    Reference basis: interval family (batch_sessionize r7,
    decontam_max_span r10, interval_coverage_sweep r10 — this is the
    per-entity union-merge member)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    idx = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i")
    ).where(F.col("i") < F.col("doc_id") % 3 + 2)
    spans = idx.select(
        "doc_id",
        ((F.col("doc_id") * 7 + F.col("i") * 13) % 200).alias("s"),
        (
            (F.col("doc_id") * 7 + F.col("i") * 13) % 200
            + 10
            + (F.col("i") * 5) % 20
        ).alias("e"),
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = spans.withColumn(
        "is_new",
        F.when(
            F.col("s")
            > F.coalesce(F.max("e").over(w_prev), F.lit(-1)),
            1,
        ).otherwise(0),
    )
    islands = marked.withColumn("island", F.sum("is_new").over(w_run))
    merged = islands.groupBy("doc_id", "island").agg(
        F.min("s").cast("long").alias("lo"),
        F.max("e").cast("long").alias("hi"),
        F.count(F.lit(1)).alias("n_in"),
    )
    return merged.groupBy("doc_id").agg(
        F.sum("n_in").cast("long").alias("n_spans_in"),
        F.count(F.lit(1)).alias("n_merged"),
        F.sum(F.col("hi") - F.col("lo"))
        .cast("long")
        .alias("covered_chars"),
        F.max(F.col("hi") - F.col("lo"))
        .cast("long")
        .alias("max_island_len"),
    )


# ------------------- global row index without a global sort --


@query(
    "global_row_index_two_level",
    oracle="""
    WITH idx AS (
        SELECT CAST(ts AS DATE) AS day,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS gidx
        FROM events
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           count(*) AS n,
           CAST(min(gidx) AS BIGINT) AS min_idx,
           CAST(max(gidx) AS BIGINT) AS max_idx,
           CAST(sum(gidx) AS BIGINT) AS idx_sum
    FROM idx GROUP BY day
    """,
)
def global_row_index_two_level(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GLOBAL contiguous row index in event-time order — zipWithIndex
    semantics, built WITHOUT the single-reducer global sort (SURVEY §7
    risk 7): rows index locally per calendar-day bucket (row_number in
    a day-partitioned window, parallel across days), per-day counts
    cumulate in one window over the ~30-row day summary, and the
    global index = day offset + local index. The graded readout folds
    the per-day index ranges and sums — min/max/sum per day can only
    all match the oracle's true global row_number if the offsets are
    exactly right and the index is gap-free. The oracle IS the naive
    global window (the definitional form DuckDB can afford).

    Scale shape: one hash exchange on the day bucket + in-partition
    sort; single-partition work is only the |days|-row cumulation —
    the same two-level prefix-sum as sequence_packing and the ffill
    operator. This is how stable sample ids / shard offsets are
    assigned to a 100 TB corpus without serializing it.

    Reference basis: ordering family (O1-O5) scale pattern;
    deterministic_corpus_shuffle r7 assigns PERMUTED ids — this is
    the order-preserving twin."""
    ev = load_table(spark, sf_dir, "events")
    w_local = Window.partitionBy("day").orderBy("ts", "event_id")
    local = ev.select(
        F.to_date("ts").alias("day"), "ts", "event_id"
    ).withColumn("lidx", F.row_number().over(w_local))
    day_counts = local.groupBy("day").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_days = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = day_counts.select(
        "day",
        F.coalesce(F.sum("cnt").over(w_days), F.lit(0)).alias("off"),
    )
    indexed = local.join(offsets, "day").select(
        "day", (F.col("off") + F.col("lidx") - 1).alias("gidx")
    )
    return indexed.groupBy(
        F.date_format("day", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("gidx").cast("long").alias("min_idx"),
        F.max("gidx").cast("long").alias("max_idx"),
        F.sum("gidx").cast("long").alias("idx_sum"),
    )


# ------------------- data-quality expectation audit --


@query(
    "dq_expectation_audit",
    oracle="""
    SELECT 'value_not_null' AS check_name,
           CAST((SELECT count(*) FROM events WHERE value IS NULL)
                AS BIGINT) AS n_violations,
           CAST((SELECT count(*) FROM events) AS BIGINT) AS n_checked
    UNION ALL
    SELECT 'value_in_range',
           CAST((SELECT count(*) FROM events
                 WHERE value < 0 OR value > 1000) AS BIGINT),
           CAST((SELECT count(*) FROM events) AS BIGINT)
    UNION ALL
    SELECT 'event_id_unique',
           CAST((SELECT count(*) - count(DISTINCT event_id)
                 FROM events) AS BIGINT),
           CAST((SELECT count(*) FROM events) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_order_fk',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'ts_sane_lower_bound',
           CAST((SELECT count(*) FROM events
                 WHERE ts < TIMESTAMP '2020-01-01') AS BIGINT),
           CAST((SELECT count(*) FROM events) AS BIGINT)
    """,
)
def dq_expectation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality EXPECTATION audit — five ingest-gate checks
    (null rate, value range, key uniqueness, referential integrity,
    timestamp sanity) evaluated as one frame of (check, violations,
    checked): the great-expectations-style contract every pipeline
    runs before promoting a batch. Violation counts are exact; a
    downstream gate thresholds them (the graded row reports, it does
    not filter — reporting is what makes quarantine auditable).

    Scale shape: the four single-table checks fold into conditional
    aggregates over ONE events scan each (Catalyst fuses the
    null/range/sanity predicates into the scan); uniqueness adds a
    distinct on the key; the FK check is one LEFT ANTI join probing
    the orders key set — at 100 TB the orders side broadcasts if it
    fits, shuffles otherwise, and nothing rescans.

    Reference basis: S5/P5 malformed-row guard family, promoted from
    a scan option to a first-class audit (dirty_data_parsing r3,
    json_corrupt_record_handling r10)."""
    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    one = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias(
            "nulls"
        ),
        F.sum(
            F.when(
                (F.col("value") < 0) | (F.col("value") > 1000), 1
            ).otherwise(0)
        ).alias("oob"),
        (F.count(F.lit(1)) - F.count_distinct("event_id")).alias(
            "dups"
        ),
        F.sum(
            F.when(
                F.col("ts") < F.lit("2020-01-01").cast("timestamp"), 1
            ).otherwise(0)
        ).alias("stale"),
    )
    orphans = li.join(
        o.select("o_orderkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("n_orphans"))
    n_li = li.agg(F.count(F.lit(1)).alias("n_li"))
    wide = one.crossJoin(F.broadcast(orphans)).crossJoin(
        F.broadcast(n_li)
    )
    checks = [
        ("value_not_null", "nulls", "n"),
        ("value_in_range", "oob", "n"),
        ("event_id_unique", "dups", "n"),
        ("lineitem_order_fk", "n_orphans", "n_li"),
        ("ts_sane_lower_bound", "stale", "n"),
    ]
    frames = [
        wide.select(
            F.lit(name).alias("check_name"),
            F.col(v).cast("long").alias("n_violations"),
            F.col(t).cast("long").alias("n_checked"),
        )
        for name, v, t in checks
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# ------------------- GDPR right-to-erasure cascade --


@query(
    "right_to_erasure_cascade",
    oracle="""
    WITH erased AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 37 = 0
    ),
    o_kept AS (
        SELECT * FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM erased e
                          WHERE e.c_custkey = o.o_custkey)
    ),
    l_kept AS (
        SELECT * FROM lineitem l
        WHERE EXISTS (SELECT 1 FROM o_kept o
                      WHERE o.o_orderkey = l.l_orderkey)
    )
    SELECT 'customer' AS table_name,
           CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_before,
           CAST((SELECT count(*) FROM customer
                 WHERE c_custkey % 37 <> 0) AS BIGINT) AS n_after
    UNION ALL
    SELECT 'orders',
           CAST((SELECT count(*) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM o_kept) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM l_kept) AS BIGINT)
    """,
)
def right_to_erasure_cascade(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RIGHT-TO-ERASURE cascade — the GDPR/CCPA delete propagated
    through the foreign-key chain (customer → orders → lineitem),
    reported as per-table before/after counts: the compliance audit
    artifact a deletion job must emit. Erasure set is a planted
    key slice; orders drop by ANTI join against it, lineitems drop by
    losing their parent order (SEMI join against survivors) — the
    two join polarities the cascade needs, and the count deltas prove
    no over- or under-deletion at any level.

    Scale shape: the erased-customer key set is tiny (1/37 of a
    dimension) — BROADCAST anti join; the order→lineitem step is the
    standard big⋈big semi join on the order key, probe side emitting
    at most once per row. No table is scanned twice for the counts —
    conditional aggregates share the kept-frame scans.

    Reference basis: free-form join family (anti q22, semi q4) in
    the ops-compliance composition; completes the CDC/merge family's
    delete leg (merge_on_read_upsert r9, scd2_dimension_build r9)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    erased = c.where(F.col("c_custkey") % 37 == 0).select("c_custkey")
    o_kept = o.join(
        F.broadcast(erased),
        o["o_custkey"] == erased["c_custkey"],
        "left_anti",
    )
    l_kept = li.join(
        o_kept.select("o_orderkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left_semi",
    )
    def counted(name: str, before: DataFrame, after: DataFrame):
        return (
            before.agg(F.count(F.lit(1)).alias("n_before"))
            .crossJoin(
                F.broadcast(
                    after.agg(F.count(F.lit(1)).alias("n_after"))
                )
            )
            .select(
                F.lit(name).alias("table_name"),
                F.col("n_before").cast("long"),
                F.col("n_after").cast("long"),
            )
        )

    return (
        counted(
            "customer", c, c.where(F.col("c_custkey") % 37 != 0)
        )
        .unionByName(counted("orders", o, o_kept))
        .unionByName(counted("lineitem", li, l_kept))
    )


# ------------------- curriculum phases by token budget --


@query(
    "curriculum_token_budget_phases",
    oracle="""
    WITH scored AS (
        SELECT doc_id, n_chars,
               (1000 * (length(text) - length(replace(text, ' ', ''))))
                   // n_chars AS score_e3
        FROM documents WHERE n_chars > 0
    ),
    cum AS (
        SELECT doc_id, n_chars, score_e3,
               coalesce(sum(n_chars) OVER (
                   ORDER BY score_e3, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_before,
               sum(n_chars) OVER () AS total
        FROM scored
    )
    SELECT CAST((cum_before * 4) // total AS BIGINT) AS phase,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(score_e3) AS BIGINT) AS min_score_e3,
           CAST(max(score_e3) AS BIGINT) AS max_score_e3
    FROM cum GROUP BY 1
    """,
)
def curriculum_token_budget_phases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CURRICULUM phase assignment — order the corpus by a quality
    score and cut it into 4 phases of (as close as indivisible docs
    allow) EQUAL TOKEN BUDGET, lowest-quality first: the curriculum /
    annealing schedule planner (train early on bulk, anneal on the
    high-quality tail). Phase = floor(4 * tokens-before / total) — an
    exclusive prefix sum over the (score, doc_id) order, computed the
    repo's two-level way: docs bucket by their bounded integer score
    (<=1001 buckets), per-bucket char totals cumulate in ONE bounded
    window, and each doc's prefix = its bucket's offset + an in-bucket
    running sum (window partitioned BY BUCKET — parallel). The oracle
    is the definitional single global window.

    Scale shape: one hash exchange on the score bucket + the
    |buckets|-row cumulation — the sequence_packing / row-index
    prefix-sum recipe applied to schedule planning; no global sort of
    docs anywhere.

    Reference basis: LLM-pipeline curation family
    (token_budget_selection flagship selects under a budget;
    quality_cdf_normalize r7 calibrates; this schedules)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("n_chars") > 0
    )
    scored = docs.select(
        "doc_id",
        "n_chars",
        F.expr(
            "(1000 * (length(text) - length(replace(text, ' ', ''))))"
            " DIV n_chars"
        ).alias("score_e3"),
    )
    bucket_totals = scored.groupBy("score_e3").agg(
        F.sum("n_chars").alias("bchars")
    )
    w_b = Window.orderBy("score_e3").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bucket_totals.select(
        "score_e3",
        F.coalesce(F.sum("bchars").over(w_b), F.lit(0)).alias("boff"),
    )
    total = scored.agg(F.sum("n_chars").alias("total"))
    w_in = (
        Window.partitionBy("score_e3")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        scored.withColumn(
            "in_before",
            F.coalesce(F.sum("n_chars").over(w_in), F.lit(0)),
        )
        .join(offsets, "score_e3")
        .crossJoin(F.broadcast(total))
        .select(
            "n_chars",
            "score_e3",
            (F.col("boff") + F.col("in_before")).alias("cum_before"),
            "total",
        )
    )
    return cum.groupBy(
        F.expr("(cum_before * 4) DIV total")
        .cast("long")
        .alias("phase")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("score_e3").cast("long").alias("min_score_e3"),
        F.max("score_e3").cast("long").alias("max_score_e3"),
    )


# ------------------- Avro codec round-trip (graded upgrade of S2/S3) --


_AVRO_EV_SCHEMA = (
    '{"type": "record", "name": "ev", "fields": ['
    '{"name": "event_id", "type": "long"},'
    '{"name": "event_type", "type": "string"},'
    '{"name": "cents", "type": "long"}]}'
)


@query(
    "avro_codec_roundtrip_batch",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id
    FROM events WHERE event_id % 5 = 0
    GROUP BY event_type
    """,
)
def avro_codec_roundtrip_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Confluent-framed Avro ENCODE → DECODE round-trip as a graded
    VALUE row — upgrading the S2/S3 codec surface from pytest-only to
    driver-graded: an events slice is serialized to wire bytes (magic
    0x00 + 4-byte schema id + Avro binary body, encode_record inside
    mapInPandas), pushed through the SAME decode path the Kafka
    consumer uses (sources/kafka.decode_avro_value → pure-Python
    codec here, JVM from_avro when the spark-avro jar exists — the
    row grades whichever path the environment selects), flattened,
    and aggregated; the oracle aggregates the original rows directly.
    Any framing, zigzag varint, or string-length defect in either
    direction breaks the value hash.

    Scale shape: encode and decode are per-row Arrow-batched work
    pinned to executors (blobs never shuffle); the only exchange is
    the final 5-group rollup. This is the reference's Kafka payload
    path (SparkWeatherConsumer.scala:201-211) minus the broker.

    Reference basis: SURVEY §2.1 S2/S3 (Confluent-Avro decode, Avro
    encode + framing) — first ORACLE-graded form."""
    import pandas as pd

    from sparkksqldbbenchmark_spark.sources.avro_codec import (
        encode_record,
    )
    from sparkksqldbbenchmark_spark.sources.kafka import (
        decode_avro_value,
        flatten_payload,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 5 == 0
    )
    rows = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    schema = _AVRO_EV_SCHEMA
    header = b"\x00" + (7).to_bytes(4, "big")

    def enc(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "value": [
                        header
                        + encode_record(
                            schema,
                            {
                                "event_id": int(r.event_id),
                                "event_type": str(r.event_type),
                                "cents": int(r.cents),
                            },
                        )
                        for r in pdf.itertuples()
                    ]
                }
            )

    wire = rows.mapInPandas(enc, "value binary")
    decoded = decode_avro_value(wire, schema, framed=True)
    flat = flatten_payload(decoded)
    return flat.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("cents_sum"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
    )


# ------------------- interval-overlap join via bucket grid --


@query(
    "interval_overlap_join_buckets",
    oracle="""
    WITH a AS (
        SELECT event_id AS a_id, event_type, ts AS lo,
               ts + to_microseconds((event_id % 7 + 1) * 600000000)
                   AS hi
        FROM events WHERE event_id % 101 = 0
    ),
    b AS (
        SELECT event_id AS b_id, ts AS lo,
               ts + to_microseconds((event_id % 5 + 1) * 900000000)
                   AS hi
        FROM events WHERE event_id % 103 = 0
    ),
    pairs AS (
        SELECT a.event_type, a.a_id, b.b_id,
               epoch_us(least(a.hi, b.hi))
                   - epoch_us(greatest(a.lo, b.lo)) AS overlap_us
        FROM a JOIN b ON a.lo < b.hi AND b.lo < a.hi
    )
    SELECT event_type,
           count(*) AS n_pairs,
           CAST(sum(overlap_us) AS BIGINT) AS total_overlap_us,
           CAST(max(overlap_us) AS BIGINT) AS max_overlap_us
    FROM pairs GROUP BY event_type
    """,
)
def interval_overlap_join_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTERVAL-OVERLAP join (interval x interval, not
    point-in-interval) — maintenance windows x outage windows, every
    overlapping pair with its exact overlap duration: the conflict /
    co-occurrence join behind incident attribution and change-freeze
    audits. The oracle is the definitional non-equi join; the Spark
    plan is the SCALE-SAFE spelling — each interval explodes onto a
    coarse hour grid (bounded fan-out: durations are <=75 min, so <=2
    buckets each), candidates pair via an EQUI join on the bucket,
    dedup on the pair id, and the exact overlap predicate + duration
    evaluate only on candidates. Spark would otherwise plan the raw
    inequality join as a broadcast nested loop — quadratic at scale.

    Scale shape: one hash exchange per side on the bucket key, pair
    dedup bounded by true candidates; the grid constant trades
    fan-out against candidate precision exactly like the LSH band
    and IVF cell knobs (SURVEY §7 risk 5 family).

    Reference basis: join-family extension
    (range_join_shipment_windows r6 is point-in-interval; this is
    the interval-interval member on the same machinery)."""
    ev = load_table(spark, sf_dir, "events")
    hour_us = 3_600_000_000

    def intervals(mod: int, step_s: int, idname: str) -> DataFrame:
        dur = (F.col("event_id") % (7 if mod == 101 else 5) + 1) * (
            step_s * 1_000_000
        )
        base = ev.where(F.col("event_id") % mod == 0).select(
            F.col("event_id").alias(idname),
            "event_type",
            F.unix_micros("ts").alias("lo_us"),
            (F.unix_micros("ts") + dur).alias("hi_us"),
        )
        return base.withColumn(
            "bkt",
            F.explode(
                F.sequence(
                    F.expr("lo_us DIV 3600000000"),
                    F.expr("(hi_us - 1) DIV 3600000000"),
                )
            ),
        )

    a = intervals(101, 600, "a_id").withColumnsRenamed(
        {"lo_us": "a_lo", "hi_us": "a_hi"}
    )
    b = intervals(103, 900, "b_id").select(
        F.col("b_id"),
        F.col("lo_us").alias("b_lo"),
        F.col("hi_us").alias("b_hi"),
        "bkt",
    )
    cand = (
        a.join(b, "bkt")
        .where((F.col("a_lo") < F.col("b_hi"))
               & (F.col("b_lo") < F.col("a_hi")))
        .select("event_type", "a_id", "b_id", "a_lo", "a_hi",
                "b_lo", "b_hi")
        .distinct()
    )
    overlap = F.least("a_hi", "b_hi") - F.greatest("a_lo", "b_lo")
    return cand.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(overlap).cast("long").alias("total_overlap_us"),
        F.max(overlap).cast("long").alias("max_overlap_us"),
    )


# ------------------- language-ID confusion matrix --


def _langid_confusion_oracle() -> str:
    from sparkksqldbbenchmark_spark.plans.llm_queries import (
        _langid_oracle,
    )

    return f"""
    WITH pred AS ({_langid_oracle()})
    SELECT lang, predicted_lang,
           count(*) AS n,
           lang = predicted_lang AS is_correct
    FROM pred GROUP BY lang, predicted_lang
    """


@query(
    "lang_id_confusion_matrix", oracle=_langid_confusion_oracle()
)
def lang_id_confusion_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONFUSION MATRIX of the stopword language-ID heuristic against
    the corpus's labeled lang column — the evaluation artifact that
    turns a classifier row (text_lang_id, graded r3) into a
    filtering DECISION: which languages leak into which buckets, and
    at what rate, before lang-filtered mixtures trust the prediction.
    Reuses the graded llm/text.with_lang_id machinery verbatim; the
    oracle reuses its graded SQL twin wrapped in the rollup.

    Scale shape: the heuristic is per-row scan work; the matrix is a
    <=36-cell aggregate (6 predicted x 6 true). Nothing new shuffles.

    Reference basis: LLM-pipeline text family (text_lang_id r3 —
    this grades its operating quality, the step every curation run
    audits)."""
    from sparkksqldbbenchmark_spark.llm import text

    docs = load_table(spark, sf_dir, "documents")
    pred = text.with_lang_id(docs)
    return pred.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n"),
        (F.col("lang") == F.col("predicted_lang")).alias("is_correct"),
    )


# ------------------- AQE runtime SMJ->BHJ conversion --


@query(
    "aqe_runtime_broadcast_conversion",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_totalprice > 355000
    GROUP BY o.o_orderpriority
    """,
)
def aqe_runtime_broadcast_conversion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AQE RUNTIME join re-planning — the third leg of the adaptive
    family (skew split r8, partition coalescing r9): a highly
    selective non-partition-key filter (o_totalprice > 355k keeps a
    sliver of orders) that STATIC planning cannot size — parquet
    min/max stats don't bound a value predicate's selectivity — so
    the initial plan is a sort-merge join; at runtime AQE measures the
    filtered side's actual shuffle output, finds it under the
    broadcast threshold, and REWRITES the running query to a
    broadcast hash join. The row executes the join, then asserts the
    FINAL adaptive plan contains the runtime BroadcastHashJoin (and
    that AQE is on) before returning the graded aggregate — a
    regression that pins the static plan fails the graded row itself.

    Scale shape: this is THE mechanism that makes selective
    dimension filters cheap at 100 TB without hand-tuned hints — one
    shuffle write of the filtered side, then a broadcast probe
    instead of shuffling the fact table.

    COST NOTE: this row deliberately EXECUTES THE QUERY TWICE — the
    in-query collect() forces AQE to finalize so the plan assertion
    reads the post-execution physical plan, and the harness then
    re-executes the returned DataFrame for grading. The output is a
    grouped handful of rows, so the doubled cost is bounded, but do
    NOT read this row's wall-clock as representative of the join's
    one-shot cost — it is a plan-assertion row, not a perf shape.

    Reference basis: engine-mechanics family (hint_join_strategies
    r8, aqe_skew_join_split r8, aqe_coalesce_partitions r9,
    dynamic_partition_pruning_join r9)."""
    assert (
        spark.conf.get("spark.sql.adaptive.enabled") == "true"
    ), "AQE must be enabled"
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 355000
    )
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("price_cents"),
        )
    )
    # run the query so AQE finalizes, then assert the runtime rewrite
    joined.collect()
    final_plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final_plan, (
        "AQE did not convert the selective join to broadcast:\n"
        + final_plan
    )
    return joined


# ------------------- time-to-convert dyadic histogram --


@query(
    "time_to_convert_dyadic",
    oracle="""
    WITH first_click AS (
        SELECT user_id, min(ts) AS fc FROM events
        WHERE event_type = 'click' GROUP BY user_id
    ),
    first_signup AS (
        SELECT e.user_id, min(e.ts) AS fs
        FROM events e JOIN first_click c ON e.user_id = c.user_id
        WHERE e.event_type = 'signup' AND e.ts > c.fc
        GROUP BY e.user_id
    ),
    deltas AS (
        SELECT epoch_us(s.fs) - epoch_us(c.fc) AS d_us
        FROM first_signup s JOIN first_click c
            ON s.user_id = c.user_id
    )
    SELECT CAST(length(bin(greatest(d_us, 1))) AS INTEGER)
               AS delta_bucket,
           count(*) AS n_users,
           CAST(sum(d_us) AS BIGINT) AS total_us,
           CAST(min(d_us) AS BIGINT) AS min_us,
           CAST(max(d_us) AS BIGINT) AS max_us
    FROM deltas GROUP BY 1
    """,
)
def time_to_convert_dyadic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TIME-TO-CONVERT distribution — per user, the exact delay from
    first 'click' to the first 'signup' AFTER it, bucketed dyadically
    (bit length of the microsecond delta — the repo's log-free
    histogram): the product-analytics latency readout downstream of
    the funnel rows (how long conversion takes, not just whether).
    Users who never click, or never sign up after clicking, drop out
    by construction — the funnel row counts them; this row times the
    converters.

    Scale shape: two per-user min aggregates (same key — one
    exchange, Catalyst reuses the partitioning for the joins) and a
    <=64-row bucket rollup; the conditional 'first after' is an
    aggregate-then-filter, never a per-row subquery.

    Reference basis: funnel/session family (funnel_conversion r7,
    batch_sessionize r7, interarrival_dyadic_histogram r11-cohort)."""
    ev = load_table(spark, sf_dir, "events")
    first_click = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fc"))
    )
    first_signup = (
        ev.where(F.col("event_type") == "signup")
        .join(first_click, "user_id")
        .where(F.col("ts") > F.col("fc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fs"))
    )
    deltas = first_signup.join(first_click, "user_id").select(
        (F.unix_micros("fs") - F.unix_micros("fc")).alias("d_us")
    )
    return deltas.groupBy(
        F.length(F.bin(F.greatest("d_us", F.lit(1))))
        .cast("int")
        .alias("delta_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("d_us").cast("long").alias("total_us"),
        F.min("d_us").cast("long").alias("min_us"),
        F.max("d_us").cast("long").alias("max_us"),
    )


# ------------------- Neyman allocation (variance-weighted sampling) --


@query(
    "neyman_allocation_plan",
    oracle="""
    WITH strata AS (
        SELECT event_type,
               count(*) AS n_h,
               CAST(count(*) * sum(c * c) - sum(c) * sum(c) AS BIGINT)
                   AS var_num
        FROM (SELECT event_type,
                     CAST(floor(value * 100) AS BIGINT) AS c
              FROM events)
        GROUP BY event_type
    ),
    weighted AS (
        SELECT event_type, n_h, var_num,
               CAST(floor(sqrt(CAST(var_num AS DOUBLE))) AS BIGINT)
                   AS w
        FROM strata
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM weighted),
    quota AS (
        SELECT w.event_type, w.n_h, w.var_num, w.w,
               (w.w * 1000) // t.tw AS base,
               (w.w * 1000) % t.tw AS rem,
               1000 - sum((w.w * 1000) // t.tw) OVER () AS extras
        FROM weighted w CROSS JOIN tot t
    )
    SELECT event_type, n_h, var_num, w,
           CAST(base + CASE WHEN row_number() OVER (
                    ORDER BY rem DESC, event_type) <= extras
                THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM quota
    """,
)
def neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN (variance-optimal) sample allocation — split a budget of
    1000 samples across strata proportionally to N_h * S_h, the
    allocation that minimizes the estimator variance for a fixed
    budget (the survey-sampling optimum; uniform and proportional
    allocation both waste budget on low-variance strata). The weight
    N_h*S_h = sqrt(n*Σx² − (Σx)²) — the population-variance numerator
    is EXACT integers, its square root is one correctly-rounded IEEE
    op, and the floor quantizes the weight back to integers so the
    largest-remainder split (the graded r8 apportionment semantics)
    is exact arithmetic end to end: no order-dependent double sums
    anywhere.

    Scale shape: one map-combinable (count, Σx, Σx²) aggregate per
    stratum + the |strata|-row apportionment (bounded window). The
    planner's cost is independent of corpus size — sampling at 100 TB
    is a scan with per-stratum keep-rates this row computes.

    Reference basis: sampling/mixture family
    (stratified_sample r3 executes fixed rates;
    mixture_quota_largest_remainder r8 apportions given weights —
    this DERIVES the optimal weights from data)."""
    ev = load_table(spark, sf_dir, "events")
    c = F.floor(F.col("value") * 100).cast("long")
    strata = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_h"),
        (
            F.count(F.lit(1)) * F.sum(c * c) - F.sum(c) * F.sum(c)
        )
        .cast("long")
        .alias("var_num"),
    )
    weighted = strata.withColumn(
        "w",
        F.floor(F.sqrt(F.col("var_num").cast("double"))).cast("long"),
    ).coalesce(1)
    tot = weighted.agg(F.sum("w").cast("long").alias("tw"))
    quota = weighted.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_h",
        "var_num",
        "w",
        F.expr("(w * 1000) DIV tw").alias("base"),
        F.expr("(w * 1000) % tw").alias("rem"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_rk = Window.orderBy(F.desc("rem"), F.asc("event_type"))
    return quota.select(
        "*",
        (F.lit(1000) - F.sum("base").over(w_all)).alias("extras"),
        F.row_number().over(w_rk).alias("rk"),
    ).select(
        "event_type",
        "n_h",
        "var_num",
        "w",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("extras"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    )


# ------------------- rolling 24h sliding distinct users --


@query(
    "rolling_24h_sliding_distinct",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
        FROM events
    ),
    target_hours AS (
        SELECT DISTINCT date_trunc('hour', ts) AS th FROM events
    )
    SELECT strftime(t.th, '%Y-%m-%d %H:%M:%S') AS hour,
           count(DISTINCT p.user_id) AS distinct_users_24h
    FROM target_hours t
    JOIN pairs p
      ON p.h <= t.th AND p.h > t.th - INTERVAL 24 HOUR
    GROUP BY t.th
    """,
)
def rolling_24h_sliding_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT sliding-window distinct count — distinct users active in
    the trailing 24 hours, evaluated at every hour: the DAU-style
    engagement series where approximate sketches (HLL) are the usual
    compromise; this is the exact form, in the shape that scales.
    A naive per-hour recount rescans 24x; a range self-join is
    quadratic. Instead: dedup to (user, hour) PAIRS once, explode
    each pair onto the <=24 future hours it keeps the user active for
    (bounded fan-out of the DEDUPED pairs, not raw events), and
    count distinct per target hour. Hours with no activity don't
    report (matching the oracle's definitional range join).

    Scale shape: one (user, hour) dedup exchange — bounded by
    |users| x |hours|, typically orders of magnitude below raw
    events — a 24x multiply of that bounded frame, and one
    count-distinct rollup per hour. The window length is the fan-out
    knob, exactly like the rolling_7day_active_users day-grain twin.

    Reference basis: engagement family (rolling_7day_active_users
    r7 at day grain; running_distinct_users r11-cohort cumulative —
    this is the fine-grain sliding member)."""
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).distinct()
    target_hours = ev.select(
        F.date_trunc("hour", "ts").alias("th")
    ).distinct()
    covered = pairs.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("h"),
                F.col("h") + F.expr("INTERVAL 23 HOURS"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("th"),
    )
    return (
        covered.join(target_hours, "th", "left_semi")
        .groupBy(
            F.date_format("th", "yyyy-MM-dd HH:mm:ss").alias("hour")
        )
        .agg(F.count_distinct("user_id").alias("distinct_users_24h"))
    )


# ------------------- explode-free array aggregation (HOF) --


@query(
    "embedding_norm_hof_vs_explode",
    oracle="""
    WITH q AS (
        SELECT vec_id, label,
               CAST((SELECT sum(CAST(floor(e * 1000) AS BIGINT)
                                * CAST(floor(e * 1000) AS BIGINT))
                     FROM unnest(embedding) AS t(e)) AS BIGINT)
                   AS norm2
        FROM embeddings
    )
    SELECT label,
           count(*) AS n_vecs,
           CAST(sum(norm2) AS BIGINT) AS total_norm2,
           bool_and(TRUE) AS hof_matches_explode
    FROM q GROUP BY label
    """,
)
def embedding_norm_hof_vs_explode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXPLODE-FREE array aggregation — per-vector squared norms via
    the aggregate() higher-order function (a fold over the array
    inside the row), cross-checked IN THE SAME QUERY against the
    posexplode spelling: both must agree on every vector (bool_and
    folds the comparison into the graded row). The scale point is the
    reason this row exists: explode multiplies a 64-dim embedding
    table 64x through every downstream exchange, while the HOF fold
    computes per-row inside the scan — at 100 TB of vectors the HOF
    form is the only acceptable shape for per-vector reductions, and
    this row pins that the two spellings are semantically identical.

    Scale shape: HOF path = one scan, zero row multiplication; the
    explode path exists here only as the in-query witness (grouped
    per vec_id before comparing — its exchange is the cost the HOF
    form deletes).

    Reference basis: §2.10 extension (hof_function_suite r8,
    map_hof/hof_suite2 r11-cohort — this adds the fold-vs-explode
    equivalence the embedding family relies on)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q_fold = F.aggregate(
        "embedding",
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.floor(x.cast("double") * 1000).cast("long")
        * F.floor(x.cast("double") * 1000).cast("long"),
    )
    hof = emb.select("vec_id", "label", q_fold.alias("norm2_hof"))
    exploded = (
        emb.select(
            "vec_id", F.posexplode("embedding").alias("j", "e")
        )
        .select(
            "vec_id",
            (
                F.floor(F.col("e").cast("double") * 1000).cast("long")
                * F.floor(F.col("e").cast("double") * 1000).cast("long")
            ).alias("sq"),
        )
        .groupBy("vec_id")
        .agg(F.sum("sq").cast("long").alias("norm2_explode"))
    )
    both = hof.join(exploded, "vec_id")
    return both.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("norm2_hof").cast("long").alias("total_norm2"),
        F.bool_and(
            F.col("norm2_hof") == F.col("norm2_explode")
        ).alias("hof_matches_explode"),
    )


# ------------------- in-session conversion rate --


@query(
    "in_session_conversion_rate",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                        > 1800000000
                    OR lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                        IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, event_type,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
        FROM ordered
    ),
    per_session AS (
        SELECT user_id, sid,
               min(CASE WHEN event_type = 'click' THEN ts END)
                   AS first_click,
               max(CASE WHEN event_type = 'signup' THEN ts END)
                   AS last_signup
        FROM sessions GROUP BY user_id, sid
    )
    SELECT user_id % 10 AS user_bucket,
           count(*) AS n_sessions,
           CAST(sum(CASE WHEN first_click IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_click,
           CAST(sum(CASE WHEN first_click IS NOT NULL
                          AND last_signup IS NOT NULL
                          AND last_signup > first_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           CAST((sum(CASE WHEN first_click IS NOT NULL
                           AND last_signup IS NOT NULL
                           AND last_signup > first_click
                          THEN 1 ELSE 0 END) * 1000000)
                // greatest(sum(CASE WHEN first_click IS NOT NULL
                                     THEN 1 ELSE 0 END), 1) AS BIGINT)
               AS conv_rate_e6
    FROM per_session GROUP BY 1
    """,
)
def in_session_conversion_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IN-SESSION conversion — click→signup must happen inside the
    SAME 30-minute-gap session to count (the strict attribution
    funnel; the cross-session funnel_conversion row credits any later
    signup): sessions form per user via the gaps-and-islands pattern
    (one lag + running sum over the user partition), each session
    reduces to (first click, last signup), and a session converts iff
    a signup follows a click within it. The rate is an integer ratio
    at 1e-6 grain per user bucket.

    Scale shape: one hash exchange on user_id for the session
    windows (in-partition sorts), a (user, session) aggregate on the
    same key — exchange reused — and a 10-row bucket rollup. The
    sessionize machinery's plan, carried into the funnel readout.

    Reference basis: session/funnel family (batch_sessionize r7,
    funnel_conversion r7, session_window_dynamic_gap r11-cohort,
    time_to_convert_dyadic staged — this closes attribution at
    session grain)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id", "ts", "event_id", "event_type"
    ).withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1_800_000_000
            ),
            1,
        ).otherwise(0),
    )
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    sessions = ordered.withColumn("sid", F.sum("is_new").over(w_run))
    per_session = sessions.groupBy("user_id", "sid").agg(
        F.min(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("first_click"),
        F.max(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("last_signup"),
    )
    clicked = F.col("first_click").isNotNull()
    converted = (
        clicked
        & F.col("last_signup").isNotNull()
        & (F.col("last_signup") > F.col("first_click"))
    )
    return per_session.groupBy(
        (F.col("user_id") % 10).alias("user_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(clicked, 1).otherwise(0))
        .cast("long")
        .alias("n_with_click"),
        F.sum(F.when(converted, 1).otherwise(0))
        .cast("long")
        .alias("n_converted"),
        F.expr(
            "(sum(CASE WHEN first_click IS NOT NULL AND last_signup "
            "IS NOT NULL AND last_signup > first_click THEN 1 ELSE 0 "
            "END) * 1000000) DIV greatest(sum(CASE WHEN first_click "
            "IS NOT NULL THEN 1 ELSE 0 END), 1)"
        )
        .cast("long")
        .alias("conv_rate_e6"),
    )


# ------------------- label propagation communities (2 sync iters) --


def _labelprop_oracle(k: int = 16, bands: int = 4, n: int = 3) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import (
        sql_minhash_sig,
        sql_word_shingles,
    )

    rows = k // bands
    sh = sql_word_shingles("text", n)
    iter_tpl = """
    , labels{i} AS (
        SELECT node, lbl FROM (
            SELECT e.src AS node, l.lbl,
                   row_number() OVER (
                       PARTITION BY e.src
                       ORDER BY count(*) DESC, l.lbl) AS rk
            FROM edges e JOIN labels{p} l ON e.dst = l.node
            GROUP BY e.src, l.lbl
        ) WHERE rk = 1
    )"""
    iters = "".join(iter_tpl.format(i=i, p=i - 1) for i in (1, 2))
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
    ), labels0 AS (
        SELECT DISTINCT src AS node, src AS lbl FROM edges
    ){iters}
    SELECT CAST(lbl AS BIGINT) AS community,
           count(*) AS n_members,
           CAST(min(node) AS BIGINT) AS min_doc_id,
           CAST(max(node) AS BIGINT) AS max_doc_id
    FROM labels2 GROUP BY lbl
    """


@query(
    "labelprop_communities_2iter", oracle=_labelprop_oracle()
)
def labelprop_communities_2iter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LABEL PROPAGATION community detection on the near-dup graph —
    two SYNCHRONIZED iterations of the frequency-max update (each
    node adopts its neighbors' most frequent label, ties to the
    smallest): the community-structure view of duplication (template
    families, mirror clusters) that the min-label connected
    components (dedup_clusters r4) cannot see — CC merges everything
    reachable; label propagation respects internal density.
    Synchronized updates + the deterministic tie-break make the
    fixed-iteration result exactly reproducible; the oracle unrolls
    both iterations as CTEs over the same banded-LSH edge set.

    Scale shape: per iteration, one edges⋈labels hash join on the
    node key + a (node, label) count + a per-node argmax window over
    the neighbor-label frame (bounded by degree, which LSH banding
    bounds) — the pagerank/kcore iterative recipe with labels
    localCheckpointed between rounds to cut lineage.

    Reference basis: dup-graph family completion (dedup_clusters r4
    min-label CC, pagerank r10, triangle/kcore r11-cohort — this
    adds the community-detection member)."""
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
    # r18 (guide §2.4, the cluster.py recipe): edges pinned on the
    # gather key dst and labels on node, so each round's gather join is
    # co-partitioned (zero exchange); the modal-label argmax is a
    # max_by aggregate over (cnt, -lbl) instead of a row_number window
    # (same tie order: highest count, then lowest label) — partial
    # map-side aggregation, no per-round sort.
    edges = (
        pairs.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionByName(
            pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
        .repartition(F.col("dst"))
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .repartition(F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(2):
        neigh = edges.join(
            labels.hint("shuffle_hash"), edges["dst"] == labels["node"]
        ).select(F.col("src").alias("node"), "lbl")
        counted = neigh.groupBy("node", "lbl").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        labels = (
            counted.groupBy("node")
            .agg(
                F.max_by(
                    "lbl", F.struct(F.col("cnt"), -F.col("lbl"))
                ).alias("lbl")
            )
            .localCheckpoint(eager=True)
        )
    return labels.groupBy(
        F.col("lbl").cast("long").alias("community")
    ).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").cast("long").alias("min_doc_id"),
        F.max("node").cast("long").alias("max_doc_id"),
    )


# ------------------- blocklist term scan (safety filtering) --


_BLOCKLIST = ("merge", "window", "stream", "hash", "batch",
              "filter", "spark", "query")


def _blocklist_oracle() -> str:
    hits = " + ".join(
        f"(length(text) - length(replace(text, '{t}', '')))"
        f" // {len(t)}"
        for t in _BLOCKLIST
    )
    return f"""
    WITH scanned AS (
        SELECT source, ({hits}) AS hits FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN hits >= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(sum(hits) AS BIGINT) AS total_hits,
           CAST(max(hits) AS BIGINT) AS max_hits
    FROM scanned GROUP BY source
    """


@query("blocklist_term_scan", oracle=_blocklist_oracle())
def blocklist_term_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKLIST term scanning — exact occurrence counts of an
    8-needle term list per document, rolled up per source with a
    flag threshold: the safety/compliance filter pass every corpus
    runs (profanity, PII keywords, licensing markers). Counts use
    the replace-length identity (occurrences = removed length over
    needle length) — pure string ops, no regex engine semantics to
    disagree on; substring matching is the deliberate contract
    (documented: 'window' matches inside 'windows', as a real
    blocklist pre-filter does before a word-boundary verifier).

    Scale shape: per-row scan-fused string work, one per-source
    rollup. The needle list lives in the plan (codegen'd constants);
    a 10^4-term production list would move to an Aho-Corasick
    mapInPandas stage — this row pins the exact semantics that stage
    must reproduce.

    Reference basis: LLM-pipeline curation family (pii_scrub_stats
    r4, decontam_ngram_overlap r7 — this is the term-list safety
    member)."""
    docs = load_table(spark, sf_dir, "documents")
    hits = None
    for t in _BLOCKLIST:
        term_hits = (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(t)))
        ) / len(t)
        term_hits = term_hits.cast("long")
        hits = term_hits if hits is None else hits + term_hits
    scanned = docs.select("source", hits.alias("hits"))
    return scanned.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("hits") >= 5, 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
        F.sum("hits").cast("long").alias("total_hits"),
        F.max("hits").cast("long").alias("max_hits"),
    )


# ------------------- split leakage near-dup audit --


def _split_leakage_oracle() -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int
    from sparkksqldbbenchmark_spark.plans.llm_queries import (
        _minhash_oracle,
    )

    bucket = sql_md5_int("'split-v1:' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH near_dups AS ({_minhash_oracle()}),
    splits AS (
        SELECT doc_id,
               CASE WHEN ({bucket}) % 100 < 80 THEN 'train'
                    WHEN ({bucket}) % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT least(sa.split, sb.split) AS split_a,
           greatest(sa.split, sb.split) AS split_b,
           count(*) AS n_pairs,
           CAST(sum(CASE WHEN sa.split <> sb.split
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_leaking
    FROM near_dups p
    JOIN splits sa ON p.doc_a = sa.doc_id
    JOIN splits sb ON p.doc_b = sb.doc_id
    GROUP BY 1, 2
    """


@query(
    "split_leakage_near_dup_audit", oracle=_split_leakage_oracle()
)
def split_leakage_near_dup_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SPLIT-LEAKAGE audit — near-duplicate pairs that STRADDLE
    train/val/test boundaries (an 80/10/10 hash split here so the
    off-diagonal cells are populated at test scale): random splitting
    puts one copy of a duplicated document in train and its twin in
    test, silently inflating eval — THE reason dedup must run before
    (or be audited against) splitting. Pairs come from the graded
    minhash-LSH detector (exact-Jaccard-verified candidates, never
    all-pairs); splits from the graded stable hash assignment; the
    output is the split-pair contingency with a leak count per cell.

    Scale shape: the pair frame is LSH-bounded; split labels are
    scan-side hash arithmetic joined onto the pair frame by doc id
    (broadcast-size at any realistic dup rate, hash join otherwise).
    No new exchanges beyond the detector's own.

    Reference basis: LLM-pipeline decontamination family
    (dedup_minhash_lsh flagship, hash_split_assignment r3,
    decontam_ngram_overlap r7 — this closes the dedup x split
    integrity loop)."""
    from sparkksqldbbenchmark_spark.llm.dedup import minhash_lsh_pairs
    from sparkksqldbbenchmark_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id").select(
        "doc_a", "doc_b"
    )
    splits = hash_split(
        docs.select("doc_id"),
        "doc_id",
        {"train": 80, "val": 90, "test": 100},
    ).select("doc_id", "split")
    labeled = (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("doc_a"),
                F.col("split").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("doc_b"),
                F.col("split").alias("sb"),
            ),
            "doc_b",
        )
    )
    return labeled.groupBy(
        F.least("sa", "sb").alias("split_a"),
        F.greatest("sa", "sb").alias("split_b"),
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("sa") != F.col("sb"), 1).otherwise(0))
        .cast("long")
        .alias("n_leaking"),
    )
