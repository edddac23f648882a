"""Round-7 graduated queries: the 25 queries staged (and locally
DuckDB-verified at sf0.001/0.01/0.1) during round 6, now registered with
the driver-graded registry per docs/ROTATION_R7.md.

Engine/SQL surface: batch gaps-and-islands sessionization, table diff /
reconciliation, merge-on-read upsert (completing the CDC family),
deterministic weighted sampling, higher-order array functions, JSON
extraction, RANGE interval window frames, calendar-spine densification,
recursive CTEs (Spark 4 WITH RECURSIVE), AQE partition-coalescing plan
assertion, bitmap activity aggregates, ties-aware top-k, INTERSECT/
EXCEPT set ops, FILTER clauses, IGNORE NULLS navigation, LISTAGG,
posexplode, try_* arithmetic, ANSI percentile_cont/disc, text
normalization, URL parsing. Streaming: dropDuplicatesWithinWatermark,
watermarked stream-stream LEFT OUTER. LLM-pipeline: IVF recall@k
certificate, product-quantization error audit (llm/pq.py).

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


# -------------------------------------------------- batch sessionization --

_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap, in microseconds


@query(
    "batch_sessionize",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), flagged AS (
        SELECT *, CASE WHEN gap_us IS NULL OR gap_us > {_GAP_US}
                       THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ), sess AS (
        SELECT *, sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM sess GROUP BY 1, 2
    """,
)
def batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization in BATCH — the offline twin of the
    graded streaming session window: a new session starts wherever the
    gap to the previous event of the same user exceeds 30 minutes
    (lag + flag), session ids are the running sum of the flags, then one
    aggregate per (user, session). The event_id tiebreak makes the
    within-user order total, so session boundaries are reproducible
    under equal timestamps; gap compare is exact integer microseconds.

    Scale shape: ONE shuffle on user_id; the lag window, the running-sum
    window and the final aggregate all share the (user_id × ts) sort, so
    Catalyst plans a single Sort under both Window operators and the
    aggregate is partial-aggregated on the same partitioning. No global
    order anywhere — per-user timelines are embarrassingly parallel,
    exactly how a 100 TB clickstream sessionizes."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            (
                F.unix_micros("ts")
                - F.lag(F.unix_micros("ts")).over(w)
            ).isNull()
            | (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
                > _GAP_US
            ),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_type").alias("n_types"),
    )


# ------------------------------------------------ table diff / reconcile --


@query(
    "table_diff_reconciliation",
    oracle="""
    WITH t AS (SELECT max(event_id) * 7 // 10 AS cut FROM events),
    a AS (
        SELECT user_id, max_by(value, event_id) AS val
        FROM events, t WHERE event_id <= t.cut GROUP BY 1
    ),
    b AS (
        SELECT user_id, max_by(value, event_id) AS val
        FROM events WHERE event_id % 17 <> 0 GROUP BY 1
    )
    SELECT coalesce(a.user_id, b.user_id) AS key,
           CASE WHEN a.user_id IS NULL THEN 'added'
                WHEN b.user_id IS NULL THEN 'removed'
                WHEN a.val IS DISTINCT FROM b.val THEN 'changed'
                ELSE 'unchanged' END AS status,
           a.val AS old_value,
           b.val AS new_value
    FROM a FULL JOIN b ON a.user_id = b.user_id
    """,
)
def table_diff_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level table diff — the reconciliation audit run after every
    migration/backfill ("did the new pipeline produce the same table?"):
    two snapshots of latest-value-per-key state (A = as of a 70% event
    cut, B = a sibling system that dropped every 17th event), full-outer
    joined on the key with NULL-safe value comparison, each key labeled
    added / removed / changed / unchanged. IS DISTINCT FROM (Spark
    `<=>` negated) keeps NULL values honest — a NULL→value transition
    is 'changed', not silently 'unchanged'.

    Scale shape: two max_by aggregates (one shuffle each on the same
    key) and a co-partitioned full-outer join that reuses that
    partitioning — three exchanges total, all keyed on user_id, no
    broadcast needed at any size because the join is key-aligned. The
    pass-through `value` doubles avoid any float arithmetic — both
    engines compare the same stored bits."""
    ev = load_table(spark, sf_dir, "events")
    # Integer DIV, not float `/` + cast: the oracle computes max*7//10
    # exactly, and double division truncated can cross an integer
    # boundary for quotients >~1e15 (ADVICE r07).
    cut = ev.agg(F.expr("max(event_id) * 7 DIV 10").alias("cut"))
    a = (
        ev.join(F.broadcast(cut))
        .where(F.col("event_id") <= F.col("cut"))
        .groupBy("user_id")
        .agg(F.max_by("value", "event_id").alias("val"))
    )
    b = (
        ev.where(F.col("event_id") % 17 != 0)
        .groupBy("user_id")
        .agg(F.max_by("value", "event_id").alias("val"))
    )
    a2 = a.select(F.col("user_id").alias("ka"), F.col("val").alias("old_value"))
    b2 = b.select(F.col("user_id").alias("kb"), F.col("val").alias("new_value"))
    joined = a2.join(b2, a2.ka == b2.kb, "full_outer")
    return joined.select(
        F.coalesce("ka", "kb").alias("key"),
        F.when(F.col("ka").isNull(), F.lit("added"))
        .when(F.col("kb").isNull(), F.lit("removed"))
        .when(
            ~F.col("old_value").eqNullSafe(F.col("new_value")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        "old_value",
        "new_value",
    )


# ---------------------------------------------------- merge-on-read view --


@query(
    "merge_on_read_upsert",
    oracle="""
    WITH t AS (SELECT max(event_id) * 6 // 10 AS cut FROM events),
    base AS (
        SELECT user_id AS key, max_by(value, event_id) AS val
        FROM events, t WHERE event_id <= t.cut GROUP BY 1
    ),
    delta AS (
        SELECT user_id AS key,
               max_by(CASE WHEN event_id % 11 = 0 THEN 'D' ELSE 'U' END,
                      event_id) AS last_op,
               max_by(value, event_id) AS last_val,
               count(*) AS n_delta
        FROM events, t WHERE event_id > t.cut GROUP BY 1
    )
    SELECT coalesce(b.key, d.key) AS key,
           CASE WHEN d.key IS NOT NULL THEN d.last_val
                ELSE b.val END AS current_value,
           CASE WHEN d.key IS NULL THEN 'base' ELSE 'delta' END
               AS provenance,
           coalesce(d.n_delta, 0) AS n_delta
    FROM base b FULL JOIN delta d ON b.key = d.key
    WHERE d.key IS NULL OR d.last_op <> 'D'
    """,
)
def merge_on_read_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read resolution — the Hudi/Delta MoR read path reduced to
    its relational core: a BASE snapshot (latest value per key up to a
    60% event cut) plus a DELTA log (every later event, 'D' delete on
    each 11th id, else upsert), resolved at read time: the latest delta
    op wins per key, a final delete drops the key, untouched keys read
    through from base. Completes the CDC family (cdc_snapshot_apply is
    the one-source fold; this is the two-source merge every lakehouse
    table format performs on query).

    Scale shape: base and delta aggregates each shuffle once on the key
    and the full-outer join reuses the same partitioning — co-aligned,
    no re-shuffle of the big side. max_by partial aggregation keeps the
    delta fold to one (op, value, id) triple per key per partition; the
    provenance/n_delta columns prove the merge consumed the log rather
    than just reading base."""
    ev = load_table(spark, sf_dir, "events")
    # Exact integer DIV to match the oracle's max*6//10 (ADVICE r07).
    cut = ev.agg(F.expr("max(event_id) * 6 DIV 10").alias("cut"))
    evc = ev.join(F.broadcast(cut))
    base = (
        evc.where(F.col("event_id") <= F.col("cut"))
        .groupBy(F.col("user_id").alias("bkey"))
        .agg(F.max_by("value", "event_id").alias("val"))
    )
    delta = (
        evc.where(F.col("event_id") > F.col("cut"))
        .groupBy(F.col("user_id").alias("dkey"))
        .agg(
            F.max_by(
                F.when(F.col("event_id") % 11 == 0, F.lit("D")).otherwise(
                    F.lit("U")
                ),
                "event_id",
            ).alias("last_op"),
            F.max_by("value", "event_id").alias("last_val"),
            F.count(F.lit(1)).alias("n_delta"),
        )
    )
    joined = base.join(delta, base.bkey == delta.dkey, "full_outer")
    return joined.where(
        F.col("dkey").isNull() | (F.col("last_op") != "D")
    ).select(
        F.coalesce("bkey", "dkey").alias("key"),
        F.when(F.col("dkey").isNotNull(), F.col("last_val"))
        .otherwise(F.col("val"))
        .alias("current_value"),
        F.when(F.col("dkey").isNull(), F.lit("base"))
        .otherwise(F.lit("delta"))
        .alias("provenance"),
        F.coalesce("n_delta", F.lit(0)).alias("n_delta"),
    )


# --------------------------------------------- deterministic weighted top --


@query(
    "weighted_sample_priority",
    oracle="""
    SELECT doc_id, weight, priority FROM (
        SELECT doc_id,
               CAST(1 + doc_id % 5 AS BIGINT) AS weight,
               CAST(CAST('0x' || substring(
                        md5(CAST(doc_id AS VARCHAR) || '/wsample'), 1, 12)
                    AS BIGINT) AS DOUBLE)
                   / CAST(1 + doc_id % 5 AS DOUBLE) AS priority
        FROM documents
    ) ORDER BY priority, doc_id LIMIT 100
    """,
)
def weighted_sample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling via priority ordering (the
    hash-keyed variant of priority/sequential Poisson sampling): each
    doc draws a reproducible uniform key from md5(id), divides by its
    weight, and the global smallest-priority k survive — heavier docs
    get proportionally smaller priorities, so selection probability
    scales with weight, yet the sample is bit-identical across runs,
    engines and retries (no RNG). The stand-in weight 1 + id % 5 models
    a quality/importance score.

    Cross-engine: the 48-bit hash prefix and the weight are exact
    integers; the single division is IEEE-correctly-rounded in both
    engines, and the doc_id tiebreak totalizes the order.

    Scale shape: scan-side expression + global top-k — Spark plans
    TakeOrderedAndProject (per-partition heaps, driver merge of k×P
    rows), never a global sort. The same predicate-ized form (priority
    < threshold from a quantile sketch) is the streaming-friendly
    variant when k is a rate, not a count."""
    docs = load_table(spark, sf_dir, "documents")
    weight = (1 + F.col("doc_id") % 5).cast("long")
    hash48 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("/wsample"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("double")
    return (
        docs.select(
            "doc_id",
            weight.alias("weight"),
            (hash48 / weight.cast("double")).alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(100)
    )


# ------------------------------------------- higher-order function suite --


@query(
    "hof_function_suite",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '\\S+') AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(t) AS INTEGER) AS n_tok,
           CAST(len(list_filter(t, x -> len(x) > 5)) AS INTEGER)
               AS n_long,
           CAST(coalesce(list_sum(list_transform(t, x -> len(x))), 0)
                AS BIGINT) AS total_len,
           CAST(len(list_filter(t, x -> regexp_matches(x, '[0-9]'))) > 0
                AS BOOLEAN) AS has_digit,
           CAST(len(list_filter(t, x -> len(x) > 12)) = 0 AS BOOLEAN)
               AS all_short,
           CAST(coalesce(list_sum(list_transform(range(1, len(t) + 1),
                    i -> CASE WHEN t[CAST(i AS INT)]
                                   = t[CAST(len(t) - i + 1 AS INT)]
                              THEN 1 ELSE 0 END)), 0) AS BIGINT)
               AS sym_matches
    FROM toks
    """,
)
def hof_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function suite — one graded row covering the
    lambda-expression surface (transform / filter / aggregate / exists /
    forall / zip_with) the way scalar_function_suite covers scalars:
    tokenize each document once, then derive token count, long-token
    count (filter), total token length (aggregate fold), digit presence
    (exists), a bounded-length invariant (forall), and a
    position-symmetric match count (zip_with against the reversed
    array). The DuckDB twin expresses the same values through
    list_filter/list_transform/list_sum — different surface syntax,
    identical integer semantics, which is the point: HOF results are
    engine-portable data, not Spark trivia.

    Scale shape: entirely scan-side, zero shuffles — a single narrow
    Project over the scan, no row explosion (contrast tfidf_top_terms,
    which explodes because it must aggregate ACROSS documents). Honest
    plan note: lambda-bearing Projects are excluded from whole-stage
    codegen in Spark (the plan pins a plain Project over ColumnarToRow);
    the lambdas are still JVM-evaluated expressions — narrow-ness, not
    WSCG membership, is what makes this the 100 TB form of per-document
    feature extraction."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_tokens

    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE into a projected column: lambda Projects sit outside
    # whole-stage codegen, so codegen CSE cannot collapse repeated
    # regexp_extract_all calls — inlining the tokenizer per output
    # column would re-scan every document's text up to five times
    t = F.col("__t")
    return docs.select(
        "doc_id", F.expr(spark_tokens("lower(text)")).alias("__t")
    ).select(
        "doc_id",
        F.size(t).alias("n_tok"),
        F.size(F.filter(t, lambda x: F.length(x) > 5)).alias("n_long"),
        F.expr(
            "aggregate(__t, 0L, (a, x) -> a + length(x))"
        ).alias("total_len"),
        F.exists(t, lambda x: x.rlike("[0-9]")).alias("has_digit"),
        F.forall(t, lambda x: F.length(x) <= 12).alias("all_short"),
        F.expr(
            "aggregate(zip_with(__t, reverse(__t),"
            " (a, b) -> IF(a = b, 1L, 0L)), 0L, (acc, v) -> acc + v)"
        ).alias("sym_matches"),
    )


# ---------------------------------------------------- JSON extraction --


@query(
    "json_extract_suite",
    oracle="""
    WITH parsed AS (
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS INT) AS k
        FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           count(k) AS n_with_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(min(k) AS INTEGER) AS min_k,
           CAST(max(k) AS INTEGER) AS max_k,
           CAST(count(DISTINCT k) AS BIGINT) AS ndv_k
    FROM parsed GROUP BY 1
    """,
)
def json_extract_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON extraction — the events table's `props`
    column is a JSON string (the shape every eventing system ships);
    this row grades BOTH Spark access paths against DuckDB's JSON
    extension: `from_json` with an explicit schema feeds the sum (typed
    struct field), `get_json_object` path extraction feeds min/max/NDV —
    identical integers either way, proving the two APIs agree with each
    other and with another engine.

    Scale shape: JSON parsing is scan-side codegen (Jackson inside the
    JVM, no Python); one partial-aggregated shuffle on the bounded
    event_type key. At 100 TB the real lever is parsing ONCE per row
    (the single from_json struct) rather than per field — which is why
    the sum deliberately rides the struct path; a schema with all
    needed fields amortizes the parse across every downstream column."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json("props", "k INT").getField("k").alias("k_struct"),
        F.get_json_object("props", "$.k").cast("int").alias("k_path"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("k_path").alias("n_with_k"),
        F.sum("k_struct").alias("sum_k"),
        F.min("k_path").alias("min_k"),
        F.max("k_path").alias("max_k"),
        F.count_distinct("k_path").alias("ndv_k"),
    )


# ------------------------------------------- RANGE interval window frame --

_DAY_US = 24 * 3600 * 1_000_000


@query(
    "range_interval_window",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT)
               AS trailing_cents,
           CAST(count(*) OVER w AS BIGINT) AS n_24h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {_DAY_US} PRECEDING AND CURRENT ROW)
    """,
)
def range_interval_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame — the sliding aggregate keyed by VALUE
    distance, not row count: per user, the sum/count of events in the
    trailing 24 hours of each event. ROWS frames (already graded in
    window_function_suite) cannot express this; RANGE over exact
    integer microseconds can, and peers with equal timestamps enter the
    frame together in both engines by definition of RANGE. Value cents
    use floor() on both sides (Spark's double→long cast truncates while
    DuckDB's rounds — the one cast divergence this repo documents).

    Scale shape: one shuffle on user_id, per-user sort, then Spark's
    WindowExec computes the moving frame with two pointers over the
    sorted run — O(n) per partition, state = the frame's rows. At
    100 TB this is the standard trailing-exposure/velocity feature
    (fraud, rate limiting) computed without self-join explosion — the
    naive events⋈events ON ts BETWEEN form is quadratic per hot key."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_DAY_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(cents).over(w).alias("trailing_cents"),
        F.count(F.lit(1)).over(w).alias("n_24h"),
    )


# -------------------------------------------- calendar spine gap filling --


@query(
    "calendar_spine_gapfill",
    oracle="""
    WITH bounds AS (
        SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
        FROM events
    ), spine AS (
        SELECT t.day::DATE AS day, et.event_type
        FROM bounds, unnest(generate_series(bounds.lo, bounds.hi,
                                            INTERVAL 1 DAY)) t(day)
        CROSS JOIN (SELECT DISTINCT event_type FROM events) et
    ), daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               count(*) AS n,
               sum(CAST(floor(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY 1, 2
    )
    SELECT s.event_type, s.day,
           coalesce(d.n, 0) AS n_events,
           CAST(coalesce(d.cents, 0) AS BIGINT) AS sum_cents
    FROM spine s
    LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day
    """,
)
def calendar_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine densification: a (day × event_type) spine spanning
    the observed date range, left-joined onto daily aggregates with
    explicit zeros for silent days — the reshape every time-series
    model and dashboard needs ("no rows" must become "zero", or
    downstream windows silently skip gaps). Companion to
    linear_interpolation_gapfill, which fills VALUES; this fills the
    GRID.

    Scale shape: the daily aggregate is one partial-aggregated shuffle
    to a bounded (days × types) key space; the spine is generated from
    a 1-row bounds aggregate (broadcast) and sequence()/explode — tiny
    by construction — and the final join broadcasts the AGGREGATED side
    only if small, else shuffles bounded keys. Nothing here scales with
    raw row count except the first aggregate scan."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    types = ev.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias(
                "day"
            ),
        )
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
    )
    return spine.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.coalesce("cents", F.lit(0)).alias("sum_cents"),
    )


# ------------------------------------------------------- recursive CTE --


@query(
    "recursive_cte_closure",
    oracle="""
    WITH RECURSIVE anc(node, cur, depth) AS (
        SELECT DISTINCT user_id, user_id, 0 FROM events
        UNION ALL
        SELECT node, cur // 2, depth + 1 FROM anc WHERE cur > 1
    )
    SELECT node,
           CAST(max(depth) AS BIGINT) AS depth_to_root,
           CAST(sum(cur) AS BIGINT) AS path_sum
    FROM anc GROUP BY 1
    """,
)
def recursive_cte_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE transitive closure (Spark 4 `WITH RECURSIVE`) —
    walk each user id up the implicit binary-tree hierarchy (parent =
    id div 2) to the root, emitting every ancestor level; then per node
    the depth and the sum over its ancestor chain. This is the
    org-chart / category-tree / BOM-explosion query shape SQL engines
    historically forced into iterative driver loops; both engines now
    evaluate the same fixpoint declaratively.

    Scale shape: each recursion step is a NARROW map over the previous
    frontier (cur div 2) unioned into the accumulator — no shuffles
    inside the loop, one final partial-aggregated shuffle on node. The
    iteration count is log2(max id) ≈ tens, independent of row count;
    the frontier shrinks as chains hit the root. The integer-division
    hierarchy keeps the recursion finite and engine-exact — the WHERE
    cur > 1 guard terminates id 0/1 chains identically."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__rec_events")
    return spark.sql(
        """
        WITH RECURSIVE anc(node, cur, depth) AS (
            SELECT DISTINCT user_id AS node, user_id AS cur, 0 AS depth
            FROM __rec_events
            UNION ALL
            SELECT node, cur DIV 2, depth + 1 FROM anc WHERE cur > 1
        )
        SELECT node,
               CAST(max(depth) AS BIGINT) AS depth_to_root,
               CAST(sum(cur) AS BIGINT) AS path_sum
        FROM anc GROUP BY node
        """
    )


# --------------------------------------- AQE partition coalescing (plan) --


@query(
    "aqe_coalesce_partitions",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def aqe_coalesce_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE partition coalescing, plan-asserted — the fourth runtime
    re-planning lever graded here (after DPP, the Bloom join and AQE's
    skew handling pinned in test_skew): a deliberately over-partitioned
    shuffle (spark.sql.shuffle.partitions=200 against a 5-key
    aggregate) must be COALESCED at runtime by
    spark.sql.adaptive.coalescePartitions into a handful of post-shuffle
    partitions, or a 1000-executor job wastes a task launch per empty
    partition — the classic too-many-reducers tax that static tuning
    can't fix across heterogeneous stages. Executed inside the conf
    window (the bloom row's lesson: AQE decisions happen at execution
    time); the assertion reads the post-execution adaptive plan for the
    coalesced AQEShuffleRead. The oracle is the plain aggregate —
    runtime re-planning moves tasks, never answers."""
    ev = load_table(spark, sf_dir, "events")
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.shuffle.partitions": "200",
    }
    saved: dict[str, str | None] = {}
    for key in confs:
        try:
            saved[key] = spark.conf.get(key)
        except Exception:
            saved[key] = None
    try:
        for key, val in confs.items():
            spark.conf.set(key, val)
        out = ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "sum_cents"
            ),
            F.count_distinct("user_id").alias("n_users"),
        )
        rows = out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "AQEShuffleRead coalesced" in plan, (
            "AQE did not coalesce the over-partitioned shuffle:\n" + plan
        )
        return spark.createDataFrame(rows, out.schema)
    finally:
        for key, old in saved.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


# ------------------------------------------------- bitmap day activity --


@query(
    "bitmap_day_activity",
    oracle="""
    WITH b AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
    days AS (
        SELECT user_id,
               date_diff('day', b.d0, CAST(ts AS DATE)) AS day_idx
        FROM events, b
        WHERE date_diff('day', b.d0, CAST(ts AS DATE)) BETWEEN 0 AND 62
    )
    SELECT user_id,
           CAST(bit_or(1::BIGINT << CAST(day_idx AS INT)) AS BIGINT)
               AS bitmap,
           CAST(bit_count(bit_or(1::BIGINT << CAST(day_idx AS INT)))
                AS INTEGER) AS active_days,
           CAST(min(day_idx) AS INTEGER) AS first_day,
           CAST(max(day_idx) AS INTEGER) AS last_day
    FROM days GROUP BY 1
    """,
)
def bitmap_day_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap activity index: each user's first-63-days activity packed
    into ONE int64 via bit_or(1 << day_index) — the roaring-bitmap idea
    at its smallest, and the standard trick for cheap retention/streak
    arithmetic downstream (popcount = active days, AND of two users'
    bitmaps = co-activity, shifts = streaks) without re-touching the
    event data. bit_count cross-checks against min/max day indexes; the
    63-day cap keeps the shift in-range for a signed 64-bit lane and is
    the documented scope (wider ranges chain multiple lanes, same
    algebra).

    Scale shape: the day-index derivation rides a broadcast 1-row min
    aggregate; bit_or is a tiny mergeable partial aggregate (8 bytes of
    state per user per partition — the cheapest distinct-ish structure
    there is), so the single user_id shuffle moves one long per user
    per partition regardless of event count."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    days = (
        ev.crossJoin(F.broadcast(d0))
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.col("d0")).alias("day_idx"),
        )
        .where(F.col("day_idx").between(0, 62))
    )
    # shiftleft's python wrapper takes only a literal shift — the SQL
    # form accepts a column
    bitmap = F.bit_or(F.expr("shiftleft(1L, day_idx)"))
    return days.groupBy("user_id").agg(
        bitmap.alias("bitmap"),
        F.bit_count(bitmap).alias("active_days"),
        F.min("day_idx").alias("first_day"),
        F.max("day_idx").alias("last_day"),
    )


# ------------------------------------------------ top-k per group, ties --


@query(
    "topk_per_group_ties",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, n, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT event_type, day, n,
               rank() OVER (PARTITION BY event_type ORDER BY n DESC)
                   AS rnk
        FROM daily
    ) WHERE rnk <= 3
    """,
)
def topk_per_group_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ties-aware per-group top-k — rank() ≤ k, which KEEPS every row
    tied at the boundary, versus the exactly-k row_number() cut already
    graded (group_exact_k_sample): the semantics reporting actually
    wants ("top 3 busiest days" where four days tie for third must show
    all four). Because ranks are computed from exact integer counts and
    ALL tied rows are included, the result set is deterministic without
    any tiebreak column — the property row_number() can only get from
    an explicit total order.

    Scale shape: bounded-key daily aggregate (one shuffle), rank window
    over the small aggregated frame partitioned by group — the window
    never touches raw events. Same top-k-window pattern as
    tfidf_top_terms; the only difference under the hood is rank() vs
    row_number() frame semantics, which is exactly what this row
    pins."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc())
    return (
        daily.withColumn("rnk", F.rank().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("event_type", "day", "n", "rnk")
    )


# ------------------------------------- streaming: dedup within watermark --


@query(
    "streaming_dropdup_within_watermark",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    """,
)
def streaming_dropdup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dropDuplicatesWithinWatermark — the BOUNDED-state streaming dedup
    (Spark 3.5+): where the graded streaming_dedup_distinct_keys row
    holds every seen key forever, this operator evicts a key's dedup
    state once the watermark passes it, trading unbounded memory for a
    "duplicates arrive within the delay" contract — the shape an
    at-least-once Kafka ingest actually needs at 100 TB (redeliveries
    cluster near the original send; keys never stop arriving). The
    duplicate feed is synthesized by unioning the event stream with
    itself — every event arrives exactly twice in the same run — and
    the deduped append-mode output must equal the batch table row for
    row: the row count alone fails if even one duplicate survives (2×
    rows) or one eviction fires early (missing rows)."""
    import uuid

    from sparkksqldbbenchmark_spark.plans.streaming_queries import (
        _read_events_stream,
    )
    from sparkksqldbbenchmark_spark.streaming.pipeline import run_to_memory

    one = _read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )
    two = _read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )
    doubled = one.unionByName(two).withWatermark("ts", "1 hour")
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )
    name = f"stream_ddww_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(deduped, name, output_mode="append")
    q.stop()
    return spark.table(name)


# ------------------------------------- streaming: LEFT OUTER stream join --


@query(
    "streaming_stream_left_join",
    oracle="""
    WITH v AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'view'),
    c AS (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'click'),
    wm AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM c))
                  - INTERVAL 2 HOUR AS w)
    SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
           CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us
    FROM v LEFT JOIN c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
    WHERE c.event_id IS NOT NULL
       OR v.ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
    """,
)
def streaming_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the attribution query
    that must also report the views that NEVER converted. Outer
    semantics under streaming are watermark-driven: a view emits its
    NULL-click row only once the engine can PROVE no matching click
    will arrive, i.e. the global watermark (min across both inputs of
    max event time − 2 h delay) has passed the view's one-hour match
    window. The oracle replays exactly that closed-set rule
    relationally: matched pairs unconditionally, unmatched views iff
    view_ts + 1 h < final watermark — the same argument the graded
    streaming_watermarked_append row pins for aggregates, extended to
    join state. Views still inside the window at end-of-stream are
    HELD, not emitted — streaming outer joins trade completeness at the
    tail for never emitting a retractable row.

    Scale shape: both sides shuffle on user_id (co-located match), state
    bounded by watermark − range on each side; the NULL-emission scan
    is the state-eviction pass the engine already does."""
    import uuid

    from sparkksqldbbenchmark_spark.plans.streaming_queries import (
        _read_events_stream,
    )
    from sparkksqldbbenchmark_spark.streaming.pipeline import run_to_memory

    views = (
        _read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    clicks = (
        _read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = views.join(
        clicks,
        F.expr(
            "user_id = c_user_id AND click_ts >= view_ts"
            " AND click_ts <= view_ts + interval 1 hour"
        ),
        "left_outer",
    ).select(
        "user_id",
        "view_id",
        "click_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias(
            "lag_us"
        ),
    )
    name = f"stream_ljoin_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(joined, name, output_mode="append")
    q.stop()
    return spark.table(name)


# ----------------------------------------------------- set-op suite --


@query(
    "setop_suite",
    oracle="""
    WITH v AS (SELECT user_id FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id FROM events WHERE event_type = 'click')
    SELECT 'intersect_all' AS op, user_id
    FROM (SELECT * FROM v INTERSECT ALL SELECT * FROM c)
    UNION ALL
    SELECT 'except_all', user_id
    FROM (SELECT * FROM v EXCEPT ALL SELECT * FROM c)
    UNION ALL
    SELECT 'intersect', user_id
    FROM (SELECT * FROM v INTERSECT SELECT * FROM c)
    UNION ALL
    SELECT 'except', user_id
    FROM (SELECT * FROM v EXCEPT SELECT * FROM c)
    """,
)
def setop_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation suite beyond UNION (§2.7's remaining half):
    INTERSECT / EXCEPT in both DISTINCT and ALL (multiset) forms over
    the view-users vs click-users multisets, tagged and unioned into one
    graded frame. The ALL forms are the semantics people actually get
    wrong — EXCEPT ALL subtracts MULTIPLICITIES (a user with 3 views
    and 1 click survives twice), which Spark plans as a hash join on
    (row, replication-count) via left-anti/intersect-all physical
    operators, not a distinct-then-filter.

    Scale shape: each set-op is one hash shuffle on the full row (here a
    single key column); the DISTINCT forms collapse map-side. Order
    never matters — the driver's canonical compare is multiset-aware,
    so the ALL forms' duplicate rows are part of the graded value."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select("user_id")
    c = ev.where(F.col("event_type") == "click").select("user_id")
    tag = lambda df, t: df.select(  # noqa: E731
        F.lit(t).alias("op"), "user_id"
    )
    return (
        tag(v.intersectAll(c), "intersect_all")
        .unionByName(tag(v.exceptAll(c), "except_all"))
        .unionByName(tag(v.intersect(c), "intersect"))
        .unionByName(tag(v.subtract(c), "except"))
    )


# ------------------------------------------------- FILTER-clause aggs --


@query(
    "filter_clause_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n_all,
           count(*) FILTER (WHERE value >= 100) AS n_big,
           CAST(sum(CAST(floor(value * 100) AS BIGINT))
                FILTER (WHERE value >= 100) AS BIGINT) AS cents_big,
           CAST(count(DISTINCT user_id) FILTER (WHERE user_id % 2 = 0)
                AS BIGINT) AS even_users,
           CAST(min(event_id) FILTER (WHERE user_id % 2 = 1) AS BIGINT)
               AS first_odd_event
    FROM events GROUP BY 1
    """,
)
def filter_clause_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-aggregate FILTER clauses — five differently-filtered
    aggregates over ONE scan and ONE shuffle, the SQL-standard form of
    the conditional-aggregation pattern this repo elsewhere writes as
    sum(CASE WHEN ...). Spark compiles FILTER into the aggregate
    expression itself, so adding a sixth differently-filtered metric
    costs zero extra passes — the property that matters when the
    alternative is six filtered subqueries re-scanning 100 TB.

    The filtered DISTINCT (even_users) is the interesting plan case:
    the filter applies before the distinct expansion, so the exchange
    carries only surviving (type, user) pairs."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__fc_events")
    return spark.sql(
        """
        SELECT event_type,
               count(*) AS n_all,
               count(*) FILTER (WHERE value >= 100) AS n_big,
               CAST(sum(CAST(floor(value * 100) AS BIGINT))
                    FILTER (WHERE value >= 100) AS BIGINT) AS cents_big,
               CAST(count(DISTINCT user_id)
                    FILTER (WHERE user_id % 2 = 0) AS BIGINT)
                   AS even_users,
               CAST(min(event_id) FILTER (WHERE user_id % 2 = 1)
                    AS BIGINT) AS first_odd_event
        FROM __fc_events GROUP BY event_type
        """
    )


# ----------------------------------------- IGNORE NULLS window carries --


@query(
    "lag_lead_ignore_nulls",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_id,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 100) AS BIGINT) END AS p_cents
        FROM events
    )
    SELECT user_id, event_id, p_cents,
           lag(p_cents IGNORE NULLS) OVER w AS prev_purchase_cents,
           lead(p_cents IGNORE NULLS) OVER w AS next_purchase_cents,
           last_value(p_cents IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS carry_cents
    FROM marked
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
)
def lag_lead_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window navigation — lag/lead skip over NULL rows to
    the nearest non-NULL neighbor, and last_value(... IGNORE NULLS)
    over a running frame IS the forward-fill idiom in pure SQL (the
    declarative twin of operators/joins.forward_fill's chunked-carry
    plan, graded here as engine surface). Purchases mark the non-NULL
    values; every event row sees its previous/next purchase and the
    carried-forward last purchase amount.

    Scale shape: one shuffle on user_id, one per-user sort shared by
    all three window functions (same WINDOW spec). IGNORE NULLS costs
    the engine a skip-list walk instead of a frame lookup — still O(n)
    per partition. Integer cents keep the comparison exact."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__inn_events")
    return spark.sql(
        """
        WITH marked AS (
            SELECT user_id, event_id,
                   CASE WHEN event_type = 'purchase'
                        THEN CAST(floor(value * 100) AS BIGINT) END
                       AS p_cents
            FROM __inn_events
        )
        SELECT user_id, event_id, p_cents,
               lag(p_cents) IGNORE NULLS OVER w AS prev_purchase_cents,
               lead(p_cents) IGNORE NULLS OVER w AS next_purchase_cents,
               last_value(p_cents) IGNORE NULLS OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS carry_cents
        FROM marked
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        """
    )


# ------------------------------------------------- ordered listagg --


@query(
    "listagg_ordered",
    oracle="""
    WITH ranked AS (
        SELECT event_type, event_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id) AS rn
        FROM events
    )
    SELECT event_type,
           string_agg(CAST(event_id AS VARCHAR), ','
                      ORDER BY rn) AS top5_ids,
           count(*) AS n_in_agg
    FROM ranked WHERE rn <= 5 GROUP BY 1
    """,
)
def listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered string aggregation — SQL:2016 LISTAGG
    (Spark 4) vs DuckDB string_agg(ORDER BY): the top-5 event ids per
    type by value, concatenated IN RANK ORDER. Unordered listagg is the
    classic nondeterminism trap (partition arrival order leaks into the
    output string); the WITHIN GROUP order clause plus a total
    tie-broken rank makes the string a well-defined value both engines
    must reproduce byte-identically.

    Scale shape: the row_number top-k cut runs on the bounded-key
    window BEFORE aggregation, so the listagg input is ≤ 5 rows per
    group — the string never grows with corpus size (unbounded listagg
    at 100 TB is an OOM, not a query plan)."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__la_events")
    return spark.sql(
        """
        WITH ranked AS (
            SELECT event_type, event_id,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value DESC, event_id) AS rn
            FROM __la_events
        )
        SELECT event_type,
               listagg(CAST(event_id AS STRING), ',')
                   WITHIN GROUP (ORDER BY rn) AS top5_ids,
               count(*) AS n_in_agg
        FROM ranked WHERE rn <= 5 GROUP BY event_type
        """
    )


# ------------------------------------------------ positional explode --


@query(
    "posexplode_tokens",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(u.i - 1 AS INTEGER) AS pos,
           t[CAST(u.i AS INT)] AS tok
    FROM toks, unnest(range(1, least(len(t), 5) + 1)) u(i)
    """,
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode — posexplode keeps each element's index, the
    piece plain explode drops and that positional features (token
    position embeddings, lead-sentence heuristics, title detection)
    require. Graded over the first five tokens of each document against
    DuckDB's unnest-with-ordinality spelling (range + subscript) — two
    very different surfaces for the same (doc, pos, token) relation.

    Scale shape: slice-then-explode, narrow and codegen'd; bounding the
    slice BEFORE the explode caps output at 5 rows/doc — explode-then-
    filter would materialize every token first."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_tokens

    docs = load_table(spark, sf_dir, "documents")
    t = F.expr(spark_tokens("lower(text)"))
    return docs.select(
        "doc_id", F.posexplode(F.slice(t, 1, 5)).alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("int").alias("pos"), "tok")


# ------------------------------------------------ try_* arithmetic --


@query(
    "try_arithmetic_suite",
    oracle="""
    SELECT event_id,
           CASE WHEN event_id % 5 = 0 THEN NULL
                ELSE CAST(100 AS DOUBLE) / CAST(event_id % 5 AS DOUBLE)
                END AS safe_div,
           CASE WHEN event_id % 2 = 1 THEN NULL
                ELSE 9223372036854775807 END AS safe_add,
           CASE WHEN event_id % 3 = 0 THEN (event_id + 2) * 1000000000
                ELSE NULL END AS safe_mul
    FROM events
    """,
)
def try_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode-safe arithmetic: try_divide / try_add / try_multiply
    return NULL where strict ANSI evaluation would raise (divide by
    zero, signed-overflow) — the operators that let a pipeline keep
    ANSI mode on (catching real bugs) without one poisoned row killing
    a 100 TB job. Each lane manufactures its failure deterministically
    from event_id residues: %5==0 divides by zero, odd ids overflow
    Long.MAX on +1, non-%3 ids overflow Long.MAX via multiplication (shifted +2 so the
    0/1 ids overflow too) —
    and the oracle replays the NULL pattern with explicit CASE guards,
    proving the try_* NULL semantics equal the guarded form value for
    value (the rewrite people hand-author today).

    Scale shape: pure scan-side expressions, zero shuffles, fully
    inside whole-stage codegen."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr(
            "try_divide(cast(100 as double), cast(event_id % 5 as double))"
        ).alias("safe_div"),
        F.expr(
            "try_add(9223372036854775807L, cast(event_id % 2 as long))"
        ).alias("safe_add"),
        # the +2 makes the overflow lane overflow for EVERY id (0 and 1
        # times Long.MAX stay in range and would leak non-NULLs)
        F.expr(
            "try_multiply(event_id + 2L, CASE WHEN event_id % 3 = 0"
            " THEN 1000000000L ELSE 9223372036854775807L END)"
        ).alias("safe_mul"),
    )


# --------------------------------------------- IVF recall certificate --


def _ivf_recall_oracle(nq: int = 10, k: int = 5, dim: int = 64) -> str:
    from sparkksqldbbenchmark_spark.plans.llm_queries import (
        _ivf_oracle,
        _sql_dot,
    )

    return f"""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ), normed AS (
        SELECT vec_id, vec, sqrt({_sql_dot("vec", "vec", dim)}) AS norm
        FROM base
    ), exact AS (
        SELECT query_id, cand_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_sql_dot("q.vec", "c.vec", dim)}
                                / (q.norm * c.norm) DESC, c.vec_id
                   ) AS rank
            FROM normed q JOIN normed c ON q.vec_id != c.vec_id
            WHERE q.vec_id < {nq}
        ) WHERE rank <= {k}
    ), ivf AS (
        SELECT query_id, cand_id FROM ({_ivf_oracle()}) t
    )
    SELECT e.query_id,
           CAST(count(i.cand_id) AS BIGINT) AS hits,
           CAST(count(i.cand_id) * 100 // {k} AS BIGINT) AS recall_pct
    FROM exact e
    LEFT JOIN ivf i
      ON e.query_id = i.query_id AND e.cand_id = i.cand_id
    GROUP BY e.query_id
    """


@query("ivf_recall_certified", oracle=_ivf_recall_oracle())
def ivf_recall_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k certificate for the IVF approximate path — the companion
    to the graduated `ann_recall_certified` row (which certifies the
    hyperplane-LSH leg): exact cosine top-k joined against the IVF
    (coarse-quantizer, nprobe=1) top-k, scored per query as
    |IVF ∩ exact| / k. With both certificates graded, BOTH approximate
    retrieval families carry a production-monitorable quality number —
    the difference between "fast" and "fast and known-good". IVF recall
    is structurally sensitive to cell-boundary effects (a true neighbor
    in the adjacent cell is invisible at nprobe=1), which is exactly
    the degradation this row would surface if centroid training drifted.

    Scale shape: the IVF leg is cell-local (the bucket join the graded
    row pins); the exact leg runs over the bounded query sample — the
    certificate costs O(|Q|·n·d), linear in corpus size."""
    from sparkksqldbbenchmark_spark.llm import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    k = 5
    exact = similarity.cosine_topk(emb).select("query_id", "cand_id")
    ivf = similarity.ivf_topk(emb).select(
        "query_id", "cand_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(ivf, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").alias("hits"))
        .select(
            "query_id",
            "hits",
            F.expr(f"CAST(hits * 100 DIV {k} AS BIGINT)").alias(
                "recall_pct"
            ),
        )
    )


# ------------------------------------------- product quantization (PQ) --


def _pq_oracle(
    subspaces: int = 8,
    sub_dim: int = 8,
    num_centroids: int = 8,
    lloyd_iters: int = 2,
) -> str:
    from sparkksqldbbenchmark_spark.llm.pq import _sql_sub_dot as _sub_dot

    d = sub_dim
    rounds = ""
    prev = "c0"
    for i in range(1, lloyd_iters + 1):
        rounds += f""", a{i} AS (
        SELECT vid, s, centroid_id, svec FROM (
            SELECT t.vid, t.s, c.centroid_id, t.svec,
                   row_number() OVER (
                       PARTITION BY t.vid, t.s
                       ORDER BY t.vv - 2.0 * ({_sub_dot("t.svec", "c.cvec", d)})
                                + c.cc,
                                c.centroid_id
                   ) AS rn
            FROM sl t JOIN {prev} c ON t.s = c.s
        ) WHERE rn = 1
    ), m{i} AS (
        SELECT s, centroid_id, r.i AS pos,
               CAST(SUM(CAST(FLOOR(svec[CAST(r.i AS INT)] * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE)
                   / (CAST(COUNT(*) AS DOUBLE) * 1e9) AS mv
        FROM a{i}, range(1, {d + 1}) r(i)
        GROUP BY s, centroid_id, r.i
    ), c{i} AS (
        SELECT s, centroid_id, cvec,
               {_sub_dot("cvec", "cvec", d)} AS cc
        FROM (
            SELECT s, centroid_id, list(mv ORDER BY pos) AS cvec
            FROM m{i} GROUP BY s, centroid_id
        )
    )"""
        prev = f"c{i}"
    return f"""
    WITH base AS (
        SELECT vec_id AS vid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dvec
        FROM embeddings
    ), sliced AS (
        SELECT vid, CAST(si.i AS INT) AS s,
               dvec[CAST(si.i * {d} + 1 AS INT)
                    : CAST(si.i * {d} + {d} AS INT)] AS svec
        FROM base, unnest(range(0, {subspaces})) si(i)
    ), sl AS (
        SELECT vid, s, svec, {_sub_dot("svec", "svec", d)} AS vv
        FROM sliced
    ), c0 AS (
        SELECT s, vid AS centroid_id, svec AS cvec, vv AS cc
        FROM sl WHERE vid < {num_centroids}
    ){rounds}, fin AS (
        SELECT vid, s, centroid_id, dist2 FROM (
            SELECT t.vid, t.s, c.centroid_id,
                   t.vv - 2.0 * ({_sub_dot("t.svec", "c.cvec", d)}) + c.cc
                       AS dist2,
                   row_number() OVER (
                       PARTITION BY t.vid, t.s
                       ORDER BY t.vv - 2.0 * ({_sub_dot("t.svec", "c.cvec", d)})
                                + c.cc,
                                c.centroid_id
                   ) AS rn
            FROM sl t JOIN {prev} c ON t.s = c.s
        ) WHERE rn = 1
    )
    SELECT CAST(s AS INT) AS subspace,
           count(*) AS n_vectors,
           CAST(count(DISTINCT centroid_id) AS BIGINT) AS used_centroids,
           CAST(SUM(CAST(FLOOR(dist2 * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_err_nano,
           CAST(MAX(CAST(FLOOR(dist2 * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
               AS max_err_nano
    FROM fin GROUP BY s
    """


@query("pq_quantization_error", oracle=_pq_oracle())
def pq_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training + error audit
    (llm/pq.py) — the embedding-compression scheme behind IVF-PQ
    billion-vector indexes: 8 subspaces × 8 dims, an 8-entry L2 Lloyd
    codebook per subspace (24 bits per 64-dim vector, ~85× smaller
    than float32), graded on the per-subspace statistics a production
    pipeline monitors: vector counts, codebook utilization (dead
    entries waste bits), and total/max quantization error in exact
    integer nano-units. Completes the compression family next to the
    graded scalar int8 row (embedding_quantization): scalar quant
    bounds each COMPONENT's error; PQ trades that for far higher
    compression with data-adapted codebooks. The oracle replays the
    full deterministic training — seeded init, two Lloyd rounds with
    expanded-L2 assignment and integer-nano-quantized re-centering —
    relationally, so a single drifted centroid component or tie-break
    flips the hash. The certificate-style companion
    (ann_recall_certified / ivf_recall_certified) covers retrieval
    quality; this row covers representation quality."""
    from sparkksqldbbenchmark_spark.llm.pq import pq_quantization_error

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_quantization_error(emb)


# ------------------------------------------- ANSI ordered-set percentiles --


@query(
    "ansi_percentile_suite",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           percentile_cont(0.25) WITHIN GROUP (ORDER BY value) AS p25,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS p50,
           percentile_cont(0.9) WITHIN GROUP (ORDER BY value) AS p90,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50_disc
    FROM events GROUP BY 1
    """,
)
def ansi_percentile_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ordered-set aggregates — percentile_cont (linear
    interpolation) and percentile_disc (existing-value) WITHIN GROUP,
    the SQL:2003 surface this repo's earlier percentile rows
    deliberately avoided in favor of nearest-rank conventions. Graded
    because the INTERPOLATION arithmetic itself turns out to be
    engine-portable: both engines compute the same IEEE lerp at the
    same rank fractions (verified bit-for-bit on this data, including
    non-terminating cases like 112.01000000000003). The
    nearest-rank/histogram plans remain the scale path (no per-group
    sort); this row pins the ANSI semantics themselves.

    Scale shape: sort-based aggregate per group — fine to ~1e9 rows per
    group, and the graded groups are the 5 bounded event types;
    approx_percentile (graded elsewhere) is the mergeable swap when
    exactness is negotiable."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__pct_events")
    return spark.sql(
        """
        SELECT event_type,
               count(*) AS n,
               percentile_cont(0.25) WITHIN GROUP (ORDER BY value) AS p25,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS p50,
               percentile_cont(0.9) WITHIN GROUP (ORDER BY value) AS p90,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY value)
                   AS p50_disc
        FROM __pct_events GROUP BY event_type
        """
    )


# ---------------------------------------------------- text normalization --


@query(
    "text_normalization_suite",
    oracle=r"""
    WITH norm AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text),
                   '[\t\n\x0B\f\r ]+', ' ', 'g'),
                   '[^a-z0-9 .,;:!?''-]', '', 'g')) AS clean
        FROM documents
    )
    SELECT doc_id,
           md5(clean) AS clean_hash,
           CAST(len(clean) AS BIGINT) AS clean_len,
           md5(regexp_replace(clean, '[0-9]+', '0', 'g')) AS masked_hash,
           CAST(len(regexp_extract_all(clean, '[0-9]+')) AS BIGINT)
               AS n_numbers
    FROM norm
    """,
)
def text_normalization_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Text normalization for corpus prep — the cleaning pass that
    precedes hashing/dedup in every pipeline: lowercase, collapse
    whitespace runs, strip characters outside a retained class, trim;
    plus digit masking (every number run → '0'), the standard
    canonicalization before near-dup hashing so "version 2" and
    "version 3" collide. Results are md5s of the normalized text, so
    any regex-engine divergence in class handling fails the gate.

    Portability finding, discovered staging this row: pattern
    BACKREFERENCES (\b(\w+) \1\b for repeated words) are
    Java-regex-only — DuckDB's RE2 silently matches NOTHING on a
    backreference pattern (no error, input returned unchanged), so a
    repeated-word lane is untestable cross-engine and the repo's
    portable normalization surface deliberately excludes it; a
    relational lag-over-tokens form covers that need instead
    (scd2-style change compression).

    Scale shape: pure scan-side regex chains in codegen, zero
    shuffles — the same cost class as the graded PII scrub."""
    docs = load_table(spark, sf_dir, "documents")
    # explicit whitespace class instead of \s: Java's \s includes
    # vertical tab (\x0B) while RE2's does not — the one class the two
    # engines define differently (review finding; \x0B never occurs in
    # the fixtures, but the contract must hold by construction)
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[\t\n\x0B\f\r ]+", " "),
            r"[^a-z0-9 .,;:!?'-]",
            "",
        )
    )
    return docs.select("doc_id", clean.alias("__clean")).select(
        "doc_id",
        F.md5("__clean").alias("clean_hash"),
        F.length("__clean").cast("long").alias("clean_len"),
        F.md5(F.regexp_replace("__clean", r"[0-9]+", "0")).alias(
            "masked_hash"
        ),
        F.size(F.expr("regexp_extract_all(__clean, '[0-9]+', 0)"))
        .cast("long")
        .alias("n_numbers"),
    )


# ----------------------------------------------------------- URL parsing --


@query(
    "url_parse_suite",
    oracle="""
    WITH u AS (
        SELECT doc_id,
               'https://' || source || '.example.com/docs/'
                   || CAST(doc_id AS VARCHAR) || '?lang=' || lang
                   || '&p=' || CAST(doc_id % 7 AS VARCHAR) AS url
        FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '\\?(.*)$', 1) AS query,
           regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param
    FROM u
    """,
)
def url_parse_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition — host/path/query/parameter extraction over a
    deterministic synthesized URL column, the web-corpus prep step
    behind domain-level mixture weights and dedup-by-page. Spark's side
    uses the dedicated parse_url function (HOST/PATH/QUERY and keyed
    QUERY extraction); DuckDB has no URL parser, so the oracle derives
    the same fields with anchored regexes — two entirely different
    mechanisms agreeing value-for-value is the point (parse_url is a
    thin codegen'd parser, not magic).

    Scale shape: scan-side string functions, zero shuffles; at corpus
    scale the host column feeds straight into the graded
    domain_mixture_resample / cross-source machinery."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&p="),
        (F.col("doc_id") % 7).cast("string"),
    )
    return docs.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias(
            "lang_param"
        ),
    )
