"""The round-11 staged cohort, graduated into the driver-graded registry
at round-12 start per docs/ROTATION_R11.md (the rotation round 11
skipped; executed round 12).

42 of the 53 staged rows graduate here (the module-local
``staged_query`` decorator swapped for ``plans.registry.query``,
mechanics as rounds 6-10 — see plans/round6_queries.py ..
round10_queries.py history). The 11 held-back suite siblings
(docs/ROTATION_R11.md holdback priority: suite rows whose machinery
already carries a graded sibling) remain staged in plans/next_round.py
and graduate round 13.

Cohort composition: the eight round-9 holdover suites (HOF/map-HOF
breadth, struct mutation, LIKE quantifiers, unionByName drift, named
WINDOW clause, lateral column alias, text format roundtrip) graduate
first — they waited two rounds — then the round-10 stagings: relational
semantics (null-aware anti join, USING coalesce, correlated non-equi
EXISTS, regr_* aggregates), LLM-pipeline depth (BPE pair merge, Heaps
novelty, SemDeDup, PCA power iteration, k-means Lloyd step,
survivorship merge, triangle count, k-core peel, span corruption,
length-bucketed batching), streaming state (chained dedup→window,
partitioned file sink, checkpoint restart, RocksDB provider, stateful
top-k, simple PyDS reader), and the API/plan-surface rows (transpose…
held back; binaryfile scan, window-group-limit pushdown, clustered
write, bitmap functions, session dynamic gap, UDTF TABLE args).

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
from sparkksqldbbenchmark_spark.streaming.pipeline import await_or_stop

QueryFn = Callable[[SparkSession, str], DataFrame]


def _view(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register TESTDATA tables as temp views for spark.sql queries
    (CREATE OR REPLACE so re-runs in one session are safe)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


# ===================================================================
# The eight round-9 holdover suites (docs/ROTATION_R10.md): graded
# siblings covered their machinery while staged; graduated round 12.
# ===================================================================

# ------------------------------------------ HOF breadth, round 2 --


@query(
    "hof_suite2",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               string_split(text, ' ')[1:8] AS a,
               string_split(text, ' ')[-8:] AS b
        FROM documents WHERE doc_id < 300
    )
    SELECT doc_id,
           len(list_filter(a, x -> len(x) > 6)) > 0 AS any_long,
           len(list_filter(a, x -> NOT (len(x) > 2))) = 0 AS all_gt2,
           array_to_string(
               list_transform(range(1, least(len(a), len(b)) + 1),
                              i -> a[i] || '_' || b[i]), '|') AS zipped,
           CAST(list_reduce(list_transform(a, x -> len(x)),
                            (acc, x) -> acc + x) * 2 AS BIGINT)
               AS double_len_sum,
           CAST(len(list_distinct(list_transform(a, x -> len(x))))
                AS INTEGER) AS n_distinct_lens
    FROM t
    """,
)
def hof_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order-function breadth, round two (round one graded
    transform/filter/aggregate): `exists` / `forall` (the quantifier
    pair — DuckDB spells them through list_filter emptiness, which IS
    their definition), `zip_with` (element-wise pairing; the oracle
    replays it index-based since DuckDB's list_zip yields structs),
    and `aggregate` with a FINISH lambda (the third lambda slot round
    one didn't cover — fold then transform the accumulator). Zipped
    output serialized pipe-joined (container gate); zip_with over
    unequal lengths is truncated by slicing both sides to 8 tokens and
    the oracle ranges over least(len,len), pinning the
    shorter-length semantics explicitly.

    Scale shape: pure scan-side JVM codegen lambdas, zero shuffles —
    the whole point of HOFs over explode/re-collect.

    Reference basis: SURVEY §2.8 scalar-function surface, array-lambda
    completion."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 300
    )
    t = docs.select(
        "doc_id",
        F.expr("slice(split(text, ' '), 1, 8)").alias("a"),
        F.expr("slice(split(text, ' '), -8, 8)").alias("b"),
    )
    return t.select(
        "doc_id",
        F.expr("exists(a, x -> length(x) > 6)").alias("any_long"),
        F.expr("forall(a, x -> length(x) > 2)").alias("all_gt2"),
        F.array_join(
            F.expr("zip_with(a, b, (x, y) -> concat(x, '_', y))"), "|"
        ).alias("zipped"),
        F.expr(
            "aggregate(a, 0L, (acc, x) -> acc + length(x),"
            " acc -> acc * 2)"
        ).alias("double_len_sum"),
        F.size(
            F.array_distinct(F.expr("transform(a, x -> length(x))"))
        ).alias("n_distinct_lens"),
    )



# -------------------------------------- struct field mutation --


@query(
    "struct_field_mutation_suite",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status,
           CAST(CAST(o_totalprice AS DECIMAL(38,6)) * 100 AS BIGINT)
               AS cents,
           year(o_orderdate) AS order_year,
           upper(o_orderpriority) AS priority_uc
    FROM orders WHERE o_orderkey < 3000
    """,
)
def struct_field_mutation_suite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Struct-column surgery — ``Column.withField`` / ``dropFields``
    (Spark 3.1+), the API that mutates ONE field of a deep struct
    without rebuilding the whole literal (the nested-payload editing
    primitive for event envelopes and feature bundles): build an order
    envelope struct, ADD two derived fields with withField, DROP the
    raw price field, then flatten to scalars at the boundary (struct
    outputs are not a result-contract type — container gate). The
    oracle computes the surviving fields directly, proving the
    mutation chain is value-preserving.

    Scale shape: withField/dropFields compile to a single
    UpdateFields expression — scan-side codegen, no shuffle, and
    column pruning still reaches the parquet scan through it.

    Reference basis: the reference's payload flattening (P1) works on
    structs the consumer REBUILDS; this grades the in-place mutation
    API a Spark-first pipeline uses instead."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < 3000
    )
    env = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
            F.col("o_orderdate").alias("d"),
            F.col("o_orderpriority").alias("prio"),
        ).alias("s"),
    )
    mutated = env.select(
        "o_orderkey",
        F.col("s")
        .withField(
            "cents",
            (F.col("s.price").cast("decimal(38,6)") * 100).cast("long"),
        )
        .withField("order_year", F.year("s.d"))
        .withField("priority_uc", F.upper("s.prio"))
        .dropFields("price", "d", "prio")
        .alias("s"),
    )
    return mutated.select(
        "o_orderkey",
        F.col("s.status").alias("status"),
        F.col("s.cents").alias("cents"),
        F.col("s.order_year").alias("order_year"),
        F.col("s.priority_uc").alias("priority_uc"),
    )



# ------------------------------------------ named WINDOW clause --


@query(
    "named_window_clause_sql",
    oracle="""
    SELECT event_id,
           user_id,
           row_number() OVER w AS rn,
           CAST(sum(CAST(CAST(value AS DECIMAL(38,6)) * 100 AS BIGINT))
                OVER wf AS BIGINT) AS running_cents,
           CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_user
    FROM events WHERE event_id < 3000
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
           wf AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def named_window_clause_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-standard named WINDOW clause: one window definition
    (`WINDOW w AS (...)`) referenced by multiple window functions —
    graded byte-identical SQL on both engines. Cross-engine parser
    finding this row pins: the SQL-standard in-place frame extension of
    a named window (`OVER (w ROWS ...)`) parses in DuckDB but NOT in
    Spark 4, so the portable spelling is a second named window carrying
    the frame (`wf AS (... ROWS ...)`), used here on both sides.
    Running cents accumulate in exact integers (the decimal-cents
    contract); both named windows must bind to the same
    partitioning/order for the one-exchange plan.

    Scale shape: all three window functions share one (user_id)
    partitioning; Catalyst plans a single exchange + sort and evaluates
    the unordered count in the same pass. Named windows are purely
    front-end — the plan is identical to the expanded form.

    Reference basis: SQL-surface family (SURVEY §2 A2's ksql/SQL front
    door; siblings pipe_syntax/groupby_all graduated r9)."""
    _view(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT event_id,
               user_id,
               row_number() OVER w AS rn,
               CAST(sum(CAST(CAST(value AS DECIMAL(38,6)) * 100
                        AS BIGINT))
                    OVER wf AS BIGINT) AS running_cents,
               CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                   AS n_user
        FROM events WHERE event_id < 3000
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
               wf AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """
    )



# ------------------------------------- LIKE quantifier breadth --


@query(
    "like_quantifier_suite",
    oracle="""
    SELECT doc_id,
           (text LIKE '%join%' AND text LIKE '%hash%') AS has_both,
           (text LIKE '%vector%' OR text LIKE '%batch%') AS has_either,
           NOT (text LIKE '%window%') AS lacks_window,
           (upper(text) LIKE '%SCAN%') AS ilike_scan,
           (text LIKE '%sort%merge%') AS ordered_pair
    FROM documents WHERE doc_id < 400
    """,
)
def like_quantifier_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE-family quantifiers: Spark's `LIKE ALL (...)` / `LIKE ANY
    (...)` multi-pattern forms, `NOT LIKE`, `ILIKE` (case-insensitive),
    and a multi-wildcard ordered pattern — graded against the oracle's
    definitional AND/OR expansion (DuckDB has no LIKE ALL/ANY, which is
    the portability note this row documents: the quantifier forms are
    Spark sugar over conjunction/disjunction, and the expansion is the
    cross-engine spelling). ILIKE grades against upper() + LIKE, its
    definition.

    Scale shape: scan-side codegen; multi-pattern LIKE compiles to the
    same conjunction the oracle spells, and a leading-wildcard pattern
    is a contains scan — linear per row, embarrassingly parallel.

    Reference basis: SURVEY §2.8 string-predicate breadth (F-suite
    siblings: regexp rows, string_suite2)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 400
    )
    return docs.select(
        "doc_id",
        F.expr("text LIKE ALL ('%join%', '%hash%')").alias("has_both"),
        F.expr("text LIKE ANY ('%vector%', '%batch%')").alias(
            "has_either"
        ),
        F.expr("text NOT LIKE '%window%'").alias("lacks_window"),
        F.expr("text ILIKE '%ScAn%'").alias("ilike_scan"),
        F.expr("text LIKE '%sort%merge%'").alias("ordered_pair"),
    )



# --------------------------------------- text format round-trip --


@query(
    "text_format_roundtrip",
    oracle="""
    SELECT doc_id,
           lang,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(len(text) AS BIGINT) AS text_len
    FROM documents WHERE doc_id < 400
    """,
)
def text_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TEXT file format as a first-class source/sink (the last core
    format untested: parquet/ORC/CSV/JSON/XML all have graded rows):
    rows serialize to pipe-delimited LINES via write.text, read back
    with spark.read.text (one `value` column per line), and parse back
    to typed columns — the log-file / plain-corpus ingestion shape. The
    oracle recomputes every parsed value from the base table, so the
    round-trip is proven lossless for the serialized fields (text
    LENGTH survives; the text itself stays out of the line protocol —
    embedded delimiters are the csv_line_codec row's territory).

    Scale shape: text write/read is the cheapest scan there is (no
    footer, no schema — splittable by line); parsing is scan-side
    split/cast codegen. The honest note: losing types/stats/pushdown
    is WHY parquet wins at rest — this row grades the format because
    raw-text corpora are an ingestion reality, not a recommendation.

    Reference basis: SURVEY §2.1 source/format matrix completion."""
    import tempfile as _tempfile

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 400
    )
    out = _tempfile.mkdtemp(prefix="textfmt_") + "/lines"
    (
        docs.select(
            F.concat_ws(
                "|",
                F.col("doc_id").cast("string"),
                "lang",
                F.col("n_chars").cast("string"),
                F.length("text").cast("string"),
            ).alias("value")
        )
        .coalesce(1)
        .write.mode("overwrite")
        .text(out)
    )
    lines = spark.read.text(out)
    parts = F.split(F.col("value"), r"\|")
    return lines.select(
        F.element_at(parts, 1).cast("long").alias("doc_id"),
        F.element_at(parts, 2).alias("lang"),
        F.element_at(parts, 3).cast("long").alias("n_chars"),
        F.element_at(parts, 4).cast("long").alias("text_len"),
    )



# ----------------------------------------- map HOFs, round two --


@query(
    "map_hof_suite2",
    oracle="""
    WITH per AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(CAST(CAST(value AS DECIMAL(38,6)) * 100
                    AS BIGINT)) AS BIGINT) AS cents
        FROM events WHERE user_id < 150 GROUP BY 1, 2
    )
    SELECT user_id,
           array_to_string(list_sort(list_transform(
               list(event_type), t -> 'k_' || t)), '|') AS renamed_keys,
           CAST(sum(c * cents) AS BIGINT) AS zip_dot,
           CAST(max(CASE WHEN c >= 5 THEN cents END) AS BIGINT)
               AS max_cents_hot
    FROM per GROUP BY user_id
    """,
)
def map_hof_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions, round two (round one graded
    element_at/map_keys/transform_values/map_filter): `transform_keys`
    (rename every key through a lambda — emitted as the sorted
    pipe-joined key list), and `map_zip_with` (align TWO maps on their
    key union and combine per key — here a count-map and a cent-sum map
    zip to per-key products, folded to a scalar). The oracle computes
    each derived value relationally from the same per-(user, type)
    aggregates; map internal order never reaches the comparator.

    Scale shape: same two-level aggregate as round one (partial shuffle
    to (user, type), second keyed on user); per-user maps bounded by
    |event types| = 5. All lambdas are JVM codegen.

    Reference basis: completes SURVEY §2.8's map-lambda surface."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 150)
    per = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum((F.col("value").cast("decimal(38,6)") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    m = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "c")))
        ).alias("mc"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cents")))
        ).alias("ms"),
    )
    return m.select(
        "user_id",
        F.array_join(
            F.sort_array(
                F.map_keys(
                    F.expr("transform_keys(mc, (k, v) -> concat('k_', k))")
                )
            ),
            "|",
        ).alias("renamed_keys"),
        F.expr(
            "aggregate(map_values(map_zip_with(mc, ms,"
            " (k, c, s) -> c * s)), 0L, (acc, x) -> acc + x)"
        ).alias("zip_dot"),
        F.expr(
            "array_max(map_values(map_filter(map_zip_with(mc, ms,"
            " (k, c, s) -> IF(c >= 5, s, NULL)), (k, v) -> v IS NOT"
            " NULL)))"
        ).alias("max_cents_hot"),
    )



# ----------------------------- unionByName with missing columns --


@query(
    "union_missing_columns_suite",
    oracle="""
    SELECT o_orderkey AS k, o_orderstatus AS status,
           CAST(CAST(o_totalprice AS DECIMAL(38,6)) * 100 AS BIGINT)
               AS cents,
           'orders_v1' AS src
    FROM orders WHERE o_orderkey < 1500
    UNION ALL
    SELECT o_orderkey AS k, o_orderstatus AS status,
           CAST(NULL AS BIGINT) AS cents,
           'orders_v2' AS src
    FROM orders WHERE o_orderkey >= 1500 AND o_orderkey < 2500
    """,
)
def union_missing_columns_suite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``unionByName(allowMissingColumns=True)`` — the schema-drift
    union (two snapshots of a feed where a column was added/dropped):
    columns align BY NAME, and a column absent from one side
    materializes as typed NULLs instead of failing or silently
    position-shifting (plain UNION's classic corruption when schemas
    drift). The v2 slice drops the price column; the oracle spells the
    NULL materialization explicitly. This is the batch twin of
    schema_evolution_mergeschema (which graded the same drift at the
    FILE level).

    Scale shape: union is a no-shuffle plan node; the NULL fill is a
    projection. Nothing here grows with scale.

    Reference basis: SURVEY §2.7 set-op family (U1–U3) under schema
    evolution."""
    o = load_table(spark, sf_dir, "orders")
    v1 = o.where(F.col("o_orderkey") < 1500).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_totalprice").cast("decimal(38,6)") * 100)
        .cast("long")
        .alias("cents"),
        F.lit("orders_v1").alias("src"),
    )
    v2 = o.where(
        (F.col("o_orderkey") >= 1500) & (F.col("o_orderkey") < 2500)
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.lit("orders_v2").alias("src"),
    )
    return v1.unionByName(v2, allowMissingColumns=True)



# -------------------------------------- lateral column aliases --


@query(
    "lateral_column_alias_sql",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(38,6)) * 100 AS BIGINT)
               AS cents,
           CAST(CAST(o_totalprice AS DECIMAL(38,6)) * 100 AS BIGINT)
               // 100000 AS price_band,
           (CAST(CAST(o_totalprice AS DECIMAL(38,6)) * 100 AS BIGINT)
               // 100000) * 2 + year(o_orderdate) % 2 AS band_code
    FROM orders WHERE o_orderkey < 3000
    """,
)
def lateral_column_alias_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL COLUMN ALIASES (Spark 3.4 SQL): a SELECT item referencing
    a SIBLING alias defined earlier in the same list (`cents` feeds
    `price_band` feeds `band_code`) — the deduplication that otherwise
    forces nested subqueries or repeated expressions. Graded against
    the fully-expanded oracle (DuckDB also resolves lateral aliases,
    but the EXPANDED form is the engine-neutral meaning this row pins —
    alias chains must be pure sugar, value-identical to substitution).
    Exact integer cents/band arithmetic throughout.

    Scale shape: alias resolution is purely syntactic — Catalyst
    substitutes the expression tree, producing the identical scan-side
    codegen Project as the expanded spelling; zero runtime cost.

    Reference basis: SQL-surface family (pipe syntax, GROUP BY ALL,
    named windows — the modern-SQL ergonomics set)."""
    _view(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(38,6)) * 100 AS BIGINT)
                   AS cents,
               cents DIV 100000 AS price_band,
               price_band * 2 + year(o_orderdate) % 2 AS band_code
        FROM orders WHERE o_orderkey < 3000
        """
    )



# ===================================================================
# Round-10 staging: new-surface operators for the round-11 graduation.
# ===================================================================

# ----------------------- null-aware anti join (NOT IN with NULLs) --


@query(
    "null_aware_antijoin_notin",
    oracle="""
    WITH dim AS (
        SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL
                    ELSE c_custkey END AS k
        FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    dim_clean AS (
        SELECT c_custkey AS k FROM customer
        WHERE c_mktsegment = 'BUILDING' AND c_custkey % 97 <> 0
    )
    SELECT 'with_null_set' AS variant,
           count(*) AS n_rows,
           CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) AS key_sum
    FROM orders
    WHERE o_custkey NOT IN (SELECT k FROM dim)
    UNION ALL
    SELECT 'null_free_set' AS variant,
           count(*) AS n_rows,
           CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) AS key_sum
    FROM orders
    WHERE o_custkey NOT IN (SELECT k FROM dim_clean)
    """,
)
def null_aware_antijoin_notin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a subquery whose column CONTAINS NULLs — the
    three-valued-logic trap ANSI mandates: one NULL in the set makes
    `x NOT IN (set)` UNKNOWN for every x, so the with-null branch must
    return ZERO rows, while the null-free branch is an ordinary anti
    join. Spark compiles the nullable case to a dedicated physical
    operator (BroadcastNullAwareHashJoin — asserted in-query) because a
    plain hash anti join would silently return the wrong rows; the
    null-free twin stays an ordinary Broadcast/SMJ anti join. Both
    branches graded value-for-value against DuckDB's ANSI semantics.

    Scale shape: null-aware anti join requires the build side broadcast
    (the null check is a global property, not partitionable by key) —
    which is exactly why production pipelines rewrite hot NOT IN paths
    to NOT EXISTS when the column is provably non-null; this row pins
    BOTH behaviors so the rewrite's legality is graded, not assumed.

    Reference basis: filter/subquery semantics family (SURVEY §2.2 P4
    null handling; extension beyond the reference's F-suite)."""
    _view(spark, sf_dir, "orders", "customer")
    df = spark.sql(
        """
        WITH dim AS (
            SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL
                        ELSE c_custkey END AS k
            FROM customer WHERE c_mktsegment = 'BUILDING'
        ),
        dim_clean AS (
            SELECT c_custkey AS k FROM customer
            WHERE c_mktsegment = 'BUILDING' AND c_custkey % 97 <> 0
        )
        SELECT 'with_null_set' AS variant,
               count(*) AS n_rows,
               CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) AS key_sum
        FROM orders
        WHERE o_custkey NOT IN (SELECT k FROM dim)
        UNION ALL
        SELECT 'null_free_set' AS variant,
               count(*) AS n_rows,
               CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) AS key_sum
        FROM orders
        WHERE o_custkey NOT IN (SELECT k FROM dim_clean)
        """
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the isNullAwareAntiJoin flag prints as the trailing `true` of
    # `BroadcastHashJoin [...], [...], LeftAnti, BuildRight, true`
    assert "LeftAnti, BuildRight, true" in plan, (
        "expected the null-aware anti join flag in the plan:\n" + plan
    )
    return df


# ------------------------------- FULL JOIN USING key coalescing --


@query(
    "using_join_full_coalesce",
    oracle="""
    WITH a AS (
        SELECT o_custkey AS k, count(*) AS n_orders
        FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1
    ),
    b AS (
        SELECT o_custkey AS k, count(*) AS n_big
        FROM orders WHERE o_totalprice > 100000 GROUP BY 1
    )
    SELECT k,
           coalesce(n_orders, 0) + 0 AS n_orders,
           coalesce(n_big, 0) + 0 AS n_big,
           CASE WHEN n_orders IS NULL THEN 'right_only'
                WHEN n_big IS NULL THEN 'left_only'
                ELSE 'both' END AS side
    FROM a FULL JOIN b USING (k)
    """,
)
def using_join_full_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER JOIN ... USING(k): ANSI requires the USING column to
    surface ONCE, coalesced across sides — `k` must be non-null even
    for rows that exist on only one side (where a qualified a.k or b.k
    would be NULL). The side marker recomputes which input each row
    came from, so a broken coalesce (Spark emitting the left key only —
    the classic USING bug class) would null out every right_only key
    and hash-mismatch. Both engines run the identical ANSI text.

    Scale shape: ordinary shuffled full-outer on the grouped inputs —
    |keys| rows a side, uniform custkey distribution; the USING
    projection is free.

    Reference basis: join-semantics family (SURVEY §2.3; extension —
    the reference's joins are equi ON joins)."""
    _view(spark, sf_dir, "orders")
    return spark.sql(
        """
        WITH a AS (
            SELECT o_custkey AS k, count(*) AS n_orders
            FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1
        ),
        b AS (
            SELECT o_custkey AS k, count(*) AS n_big
            FROM orders WHERE o_totalprice > 100000 GROUP BY 1
        )
        SELECT k,
               coalesce(n_orders, 0) + 0 AS n_orders,
               coalesce(n_big, 0) + 0 AS n_big,
               CASE WHEN n_orders IS NULL THEN 'right_only'
                    WHEN n_big IS NULL THEN 'left_only'
                    ELSE 'both' END AS side
        FROM a FULL JOIN b USING (k)
        """
    )


# ------------------------- correlated EXISTS with non-equi term --


@query(
    "correlated_nonequi_exists",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderkey < 20000
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
          AND l.l_quantity > 25
      )
    GROUP BY 1
    """,
)
def correlated_nonequi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS whose predicate mixes an equi term
    (l_orderkey = o_orderkey) with a NON-EQUI correlation
    (l_shipdate > o_orderdate + 45 days): the decorrelator must carry
    the outer's o_orderdate INTO the join and keep the inequality as a
    join condition, not a post-filter on a semi join keyed only on
    orderkey (which would be wrong only when an order has late-but-
    small and early-but-large lineitems — planted by the quantity
    term). TPC-H Q4's shape plus the inequality stress. Both engines
    decorrelate the identical ANSI text.

    Scale shape: LEFT SEMI hash/SMJ on the equi key with the non-equi
    residual evaluated inside the join — one shuffle on orderkey,
    uniform by construction.

    Reference basis: SURVEY §2.3 J-family extension (the q4/q21/q22
    correlated shapes graded since r4; this adds the non-equi term)."""
    _view(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o.o_orderpriority,
               count(*) AS n_orders
        FROM orders o
        WHERE o.o_orderkey < 20000
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
              AND l.l_quantity > 25
          )
        GROUP BY 1
        """
    )


# ---------------------------------- regr_* regression aggregates --


@query(
    "regr_agg_suite",
    oracle="""
    WITH pts AS (
        SELECT event_type,
               CAST(event_id % 1000 AS DOUBLE) AS x,
               CAST(3 * (event_id % 1000) + event_id % 7 AS DOUBLE) AS y
        FROM events
    )
    SELECT event_type,
           CAST(regr_count(y, x) AS BIGINT) AS n_pts,
           regr_avgx(y, x) AS avg_x,
           regr_avgy(y, x) AS avg_y,
           regr_slope(y, x) AS slope,
           regr_intercept(y, x) AS intercept,
           regr_r2(y, x) AS r2
    FROM pts GROUP BY event_type
    """,
)
def regr_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI regr_* aggregate family (regr_count/avgx/avgy/slope/
    intercept/r2) — one-pass linear-regression aggregates both engines
    implement natively. Points are constructed integer-valued
    (y = 3x + id%7) so every sufficient sum is exactly representable
    in a double regardless of accumulation order: the averages are
    bit-identical by construction, and slope/intercept/r2 agree far
    inside the comparator's 1e-9 rounding even though each engine's
    one-pass update order differs. Complements ols_trend_by_key (which
    grades the same math through EXPLICIT exact sufficient sums) by
    grading the built-in aggregate surface itself.

    Scale shape: partial-combinable aggregates — constant state per
    (group, aggregate), one shuffle of |groups| rows. Scan-bound.

    Reference basis: SURVEY §2.4 A-family extension (the reference's
    stddev/correlation rows are the same moment algebra)."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        (F.col("event_id") % 1000).cast("double").alias("x"),
        (3 * (F.col("event_id") % 1000) + F.col("event_id") % 7)
        .cast("double")
        .alias("y"),
    )
    return pts.groupBy("event_type").agg(
        F.expr("regr_count(y, x)").cast("long").alias("n_pts"),
        F.expr("regr_avgx(y, x)").alias("avg_x"),
        F.expr("regr_avgy(y, x)").alias("avg_y"),
        F.expr("regr_slope(y, x)").alias("slope"),
        F.expr("regr_intercept(y, x)").alias("intercept"),
        F.expr("regr_r2(y, x)").alias("r2"),
    )


# ------------------------------------ BPE merge-candidate counting --


@query(
    "bpe_pair_merge_candidates",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    pairs AS (
        SELECT substring(tok, CAST(i AS INTEGER), 2) AS pair
        FROM toks, LATERAL (
            SELECT unnest(range(1, len(tok))) AS i
        ) r
        WHERE len(tok) >= 2
    )
    SELECT pair, count(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
)
def bpe_pair_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of BPE/WordPiece vocabulary induction: count every
    adjacent symbol pair inside each whitespace token across the corpus
    and rank the top merge candidates (count desc, pair asc — the
    deterministic tie order a reproducible tokenizer build requires).
    One round of this, iterated, IS tokenizer training; the counting
    round is the distributed-scale part (the merge table itself is
    tiny and driver-side in every real implementation).

    Scale shape: explode to pair grain (≈ chars per doc), partial-agg
    to distinct pairs (bounded by alphabet² ≪ rows), then
    TakeOrderedAndProject for the top-k — no global sort, no skew
    (pair counts are Zipfian but the partial agg absorbs hot pairs
    map-side exactly like any word-count).

    Reference basis: LLM-pipeline extension (SURVEY §2 extensions;
    sibling of vocab_top_tokens, which ranks whole tokens)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).where(F.length("tok") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1),"
                " i -> substring(tok, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


# -------------------------------- vocabulary novelty growth curve --


@query(
    "ngram_novelty_growth",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    tris AS (
        SELECT doc_id,
               t[CAST(i AS INTEGER)] || ' ' || t[CAST(i AS INTEGER) + 1]
                   || ' ' || t[CAST(i AS INTEGER) + 2] AS tri
        FROM toks, LATERAL (
            SELECT unnest(range(1, len(t) - 1)) AS i
        ) r
        WHERE len(t) >= 3
    ),
    firsts AS (
        SELECT tri, min(doc_id) AS first_doc FROM tris GROUP BY tri
    ),
    buckets AS (
        SELECT first_doc // 100 AS bucket,
               count(*) AS new_trigrams
        FROM firsts GROUP BY 1
    )
    SELECT bucket,
           new_trigrams,
           CAST(sum(new_trigrams) OVER (
               ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS vocab_size
    FROM buckets
    """,
)
def ngram_novelty_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty / Heaps'-law growth curve: how many NEW word
    trigrams each 100-document slice contributes, plus the running
    distinct-trigram vocabulary size. The curve's flattening rate is
    the standard diagnostic for corpus saturation (more data stops
    adding novelty) and dedup health (a re-crawled corpus flattens
    immediately). first-occurrence = min(doc_id) per trigram makes the
    whole computation one exact aggregate — no sequential scan over
    documents.

    Scale shape: trigram explode → partial min-agg (bounded by
    distinct trigrams) → bucket agg (|corpus|/100 rows) → running sum
    over BUCKET grain. The window is global but its input is bucket
    rows (≤ |docs|/100), and at 100 TB the same curve is computed at
    coarser grain (per-shard buckets) with the identical plan — the
    row count into the window is a knob, not a scaling wall.

    Reference basis: LLM-pipeline extension; sibling of
    vocab_top_tokens / collision_probability_suite."""
    docs = load_table(spark, sf_dir, "documents")
    tris = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(text, ' ')) - 2),"
                " i -> concat_ws(' ',"
                " element_at(split(text, ' '), i),"
                " element_at(split(text, ' '), i + 1),"
                " element_at(split(text, ' '), i + 2)))"
            )
        ).alias("tri"),
    )
    firsts = tris.groupBy("tri").agg(F.min("doc_id").alias("first_doc"))
    buckets = firsts.groupBy(
        (F.col("first_doc") / 100).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("new_trigrams"))
    w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return buckets.select(
        "bucket",
        "new_trigrams",
        F.sum("new_trigrams").over(w).cast("long").alias("vocab_size"),
    )


# --------------------- chained stateful: dedup THEN window agg --


@query(
    "streaming_dedup_then_window",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum
    FROM events
    GROUP BY 1, 2
    HAVING max(time_bucket(INTERVAL 1 HOUR, ts)) + INTERVAL 1 HOUR
           <= (SELECT max(ts) FROM events) - INTERVAL 90 MINUTE
    """,
)
def streaming_dedup_then_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TWO chained stateful operators in one streaming query —
    dropDuplicates state feeding windowed-aggregation state (the
    multi-stateful pipeline Spark supports in append mode when every
    stage shares the watermark): the input is the events stream
    UNIONed with itself, so every event arrives exactly twice and an
    un-deduplicated aggregate would double every count — the oracle
    aggregates the single-copy batch table, so surviving duplicates
    hash-mismatch loudly. Dedup keys include the event-time column,
    keeping the dedup state watermark-evictable; append emits exactly
    the windows the final watermark closes (same closed-window oracle
    as streaming_watermarked_append).

    Scale shape: two keyed state stores, both hash-partitioned and
    both bounded by the watermark (dedup state ≈ events inside the
    delay horizon; window state ≈ open windows × types) — the
    standard at-least-once-upstream → exactly-once-aggregate topology
    of every Kafka ingestion pipeline.

    Reference basis: SURVEY §2.9 T-family extension: the reference
    chains dedup and aggregation as separate ksql queries over an
    intermediate topic; Spark expresses the whole chain as one
    incremental plan."""
    import uuid as _uuid

    from sparkksqldbbenchmark_spark.plans.streaming_queries import (
        _read_events_stream,
    )
    from sparkksqldbbenchmark_spark.streaming.pipeline import run_to_memory

    s = _read_events_stream(spark, sf_dir).withWatermark(
        "ts", "90 minutes"
    )
    doubled = s.unionByName(s)
    deduped = doubled.dropDuplicates(["event_id", "ts"])
    agged = (
        deduped.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents_sum"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "cents_sum",
        )
    )
    name = f"stream_ddw_{_uuid.uuid4().hex[:8]}"
    q = run_to_memory(agged, name, output_mode="append")
    q.stop()
    return spark.table(name)


# ------------------- partitioned streaming file sink (exactly-once) --


@query(
    "streaming_file_sink_partitioned",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum
    FROM events
    GROUP BY 1
    """,
)
def streaming_file_sink_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The built-in STREAMING FILE SINK with partitionBy — the
    lakehouse landing pattern (stream → hive-partitioned parquet) and
    its exactly-once mechanism, the _spark_metadata transaction log:
    readers list files FROM THE LOG, not the directory. Proven
    in-query by planting an ORPHAN parquet file (a forged duplicate
    batch, written straight into a partition directory, bypassing the
    log — the debris a crashed task attempt leaves): the read-back
    aggregate must equal the source aggregate exactly, i.e. the orphan
    is invisible. A directory-listing read would double one
    partition's counts and hash-mismatch.

    Scale shape: executor-parallel partitioned write (one file per
    task × partition value), KB-sized manifest appended per
    micro-batch by the driver; the partition layout gives downstream
    readers pruning on event_type for free. The known 100 TB caveat —
    metadata-log growth over long-running sinks — is a compaction
    knob (spark.sql.streaming.fileSink.log.compactInterval), not a
    plan property.

    Reference basis: SURVEY §2.1 S-family sink extension (the
    reference lands results in Kafka topics / CSV reports; this is
    the Spark-native partitioned-lake landing path, graded
    value-for-value)."""
    import os
    import tempfile
    import uuid as _uuid

    from sparkksqldbbenchmark_spark.plans.streaming_queries import (
        _read_events_stream,
    )

    out = tempfile.mkdtemp(prefix="fsink_")
    ckpt = tempfile.mkdtemp(prefix="fsink_ckpt_")
    ev = _read_events_stream(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    q = (
        ev.writeStream.format("parquet")
        .partitionBy("event_type")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .queryName(f"fsink_{_uuid.uuid4().hex[:8]}")
        .start()
    )
    await_or_stop(q, 120, f"stream {q.name}")
    assert os.path.isdir(os.path.join(out, "_spark_metadata")), (
        "file sink wrote no transaction log"
    )

    # plant the orphan: a forged duplicate batch inside one partition
    # directory, bypassing the metadata log (crashed-attempt debris)
    part_dirs = [
        p for p in os.listdir(out) if p.startswith("event_type=")
    ]
    assert part_dirs, "no partition directories written"
    orphan_dir = os.path.join(out, sorted(part_dirs)[0])
    spark.createDataFrame(
        [(999_999_999, 12345)], "event_id long, cents long"
    ).coalesce(1).write.mode("append").parquet(orphan_dir + "_orphan_tmp")
    import glob as _glob
    import shutil as _shutil

    orphan_file = _glob.glob(orphan_dir + "_orphan_tmp/part-*.parquet")[0]
    _shutil.move(
        orphan_file, os.path.join(orphan_dir, "part-orphan.parquet")
    )
    _shutil.rmtree(orphan_dir + "_orphan_tmp", ignore_errors=True)
    assert os.path.exists(
        os.path.join(orphan_dir, "part-orphan.parquet")
    )

    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("long").alias("cents_sum"),
    )


# --------------------------------- hidden _metadata file columns --


@query(
    "hidden_file_metadata_scan",
    oracle="""
    SELECT event_type AS path_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           count(*) > 0 AS file_cols_consistent
    FROM events GROUP BY 1
    """,
)
def hidden_file_metadata_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hidden ``_metadata`` struct (Spark 3.4+: file_path,
    file_name, file_size, file_modification_time) — per-file
    provenance without a custom source: land events hive-partitioned
    by type, read back, and rebuild each row's event_type FROM ITS
    FILE PATH via regexp over _metadata.file_path; grouping by the
    path-derived type must reproduce the source aggregate exactly
    (a wrong file→row attribution mis-buckets rows and
    hash-mismatches). The boolean column additionally pins the
    consistency contract: every row's _metadata.file_name is a
    suffix of its file_path and file_size is positive — checked
    in-aggregate, reported per group.

    Scale shape: _metadata columns are constant-per-split values
    injected at scan time — zero IO beyond the scan itself; the
    provenance grouping is an ordinary partial agg. This is the
    lineage/debugging primitive (which file produced this row?) every
    100 TB ingest audit leans on.

    Reference basis: S-family source surface extension (SURVEY §2.1);
    sibling of partitioned_write_prune (r5)."""
    import tempfile

    d = tempfile.mkdtemp(prefix="meta_scan_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    ev.write.mode("overwrite").partitionBy("event_type").parquet(d)
    back = spark.read.parquet(d)
    return (
        back.select(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"event_type=([^/]+)/", 1
            ).alias("path_type"),
            "cents",
            (
                F.col("_metadata.file_path").endswith(
                    F.col("_metadata.file_name")
                )
                & (F.col("_metadata.file_size") > 0)
            ).alias("meta_ok"),
        )
        .groupBy("path_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").cast("long").alias("cents_sum"),
            F.bool_and("meta_ok").alias("file_cols_consistent"),
        )
    )


# -------------------- UDTF with TABLE argument + PARTITION BY --


@query(
    "udtf_table_arg_partition_by",
    oracle="""
    WITH ordered AS (
        SELECT event_type, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS rn,
               lag(value) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS pv
        FROM events
    ),
    marked AS (
        SELECT event_type, rn,
               CASE WHEN pv IS NULL OR value <= pv THEN 1 ELSE 0 END
                   AS brk
        FROM ordered
    ),
    islands AS (
        SELECT event_type, rn,
               sum(brk) OVER (
                   PARTITION BY event_type ORDER BY rn
               ) AS grp
        FROM marked
    ),
    runs AS (
        SELECT event_type, grp, count(*) AS run_len
        FROM islands GROUP BY event_type, grp
    )
    SELECT event_type,
           CAST(max(run_len) AS BIGINT) AS longest_inc_run,
           CAST(sum(run_len) AS BIGINT) AS n_rows,
           CAST(sum(run_len) - count(*) AS BIGINT) AS n_increases
    FROM runs GROUP BY event_type
    """,
)
def udtf_table_arg_partition_by(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Polymorphic table function execution contract — a UDTF invoked
    with ``TABLE(...) PARTITION BY ... ORDER BY ...`` (Spark 3.5+):
    the engine must deliver each partition's rows to ONE UDTF instance
    IN ORDER, with terminate() firing once per partition. The UDTF
    computes inherently sequential statistics (longest strictly-
    increasing run of `value`, total increase steps) that are wrong
    under any row reordering or partition split — the gaps-and-islands
    oracle recomputes them relationally, so the execution contract is
    graded value-for-value, not asserted.

    Scale shape: the PARTITION BY clause is a real exchange (hash on
    event_type) + in-partition sort — exactly what the sequential
    computation requires and no more; Arrow-batched rows stream
    through Python once. Completes the UDTF matrix: fixed schema (r8),
    dynamic analyze() (r10 head), and now table-argument partitioning.

    Reference basis: SURVEY §2.10 extension surface."""
    from pyspark.sql.functions import udtf

    class RunStats:
        def __init__(self) -> None:
            self._typ = None
            self._n = 0
            self._cur = 0
            self._best = 0
            self._inc = 0
            self._prev = None

        def eval(self, row) -> None:
            self._typ = row["event_type"]
            self._n += 1
            v = row["value"]
            if self._prev is not None and v > self._prev:
                self._cur += 1
                self._inc += 1
            else:
                self._cur = 1
            if self._cur > self._best:
                self._best = self._cur
            self._prev = v

        def terminate(self):
            if self._n:
                yield (self._typ, self._best, self._n, self._inc)

    spark.udtf.register(
        "run_stats",
        udtf(
            RunStats,
            returnType=(
                "event_type string, longest_inc_run bigint,"
                " n_rows bigint, n_increases bigint"
            ),
        ),
    )
    _view(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT * FROM run_stats(
            TABLE(events) PARTITION BY event_type ORDER BY (ts, event_id)
        )
        """
    )


# ----------------------------- session windows with DYNAMIC gap --


@query(
    "session_window_dynamic_gap",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               ts + CASE WHEN event_type = 'error'
                         THEN INTERVAL 30 MINUTE
                         ELSE INTERVAL 10 MINUTE END AS te
        FROM events
    ),
    o AS (
        SELECT user_id, ts, cents, te,
               max(te) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pm
        FROM e
    ),
    m AS (
        SELECT user_id, ts, cents, te,
               CASE WHEN pm IS NULL OR ts >= pm THEN 1 ELSE 0 END AS brk
        FROM o
    ),
    isl AS (
        SELECT user_id, ts, cents, te,
               sum(brk) OVER (
                   PARTITION BY user_id ORDER BY ts, cents, te
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS grp
        FROM m
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(te), '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events,
           CAST(sum(cents) AS BIGINT) AS cents_sum
    FROM isl GROUP BY user_id, grp
    """,
)
def session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``session_window`` with a PER-ROW gap expression (Spark 3.2+) —
    error events hold the session open 30 minutes, everything else 10:
    the adaptive-timeout sessionization real funnels use (an error
    often precedes a slow retry; fixed gaps split those journeys).
    Each event spans [ts, ts+gap); Spark merges overlapping spans into
    sessions — the oracle replays exactly that as an interval-union
    sweep (prefix-max end, break when a span starts at-or-after the
    running end, [start,end) half-open semantics).

    Scale shape: one shuffle on user_id + in-partition sort — the
    session merge is a linear pass; state is bounded per key. Same
    plan family as batch_sessionize (fixed gap, graded r7) with the
    gap generalized from a constant to an expression.

    Reference basis: SURVEY §2.9 T-family (session windows graded in
    streaming and batch forms since r2/r8); dynamic gap completes the
    session-window API surface."""
    ev = load_table(spark, sf_dir, "events")
    # dynamic gap takes STRING interval literals (cast internally to
    # CalendarIntervalType; a DayTimeInterval literal is rejected)
    gap = F.when(
        F.col("event_type") == "error", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    return (
        ev.groupBy(F.session_window(F.col("ts"), gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents_sum"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss")
            .alias("session_end"),
            "n_events",
            "cents_sum",
        )
    )


# ------------------ principal direction via power iteration --


@query(
    "pca_power_iteration_1d",
    oracle="""
    WITH q AS (
        SELECT vec_id, CAST(r.j AS INTEGER) AS j,
               CAST(floor(CAST(embedding[CAST(r.j AS INTEGER)] AS DOUBLE)
                          * 1000) AS BIGINT) AS q
        FROM embeddings, LATERAL (
            SELECT unnest(range(1, len(embedding) + 1)) AS j
        ) r
    ),
    v0 AS (SELECT DISTINCT j, CAST(1000000 AS BIGINT) AS v FROM q),
    s1 AS (SELECT q.vec_id, sum(q.q * v0.v) AS s
           FROM q JOIN v0 USING (j) GROUP BY 1),
    w1 AS (SELECT q.j, sum(q.q * s1.s) AS w
           FROM q JOIN s1 USING (vec_id) GROUP BY 1),
    wq1 AS (SELECT j, CAST(floor(CAST(w AS DOUBLE) / 1000000000.0)
                           AS BIGINT) AS wq FROM w1),
    n1 AS (SELECT sqrt(CAST(sum(wq * wq) AS DOUBLE)) AS nrm FROM wq1),
    v1 AS (SELECT j, CAST(floor(CAST(wq AS DOUBLE) * 1000000.0 / nrm)
                          AS BIGINT) AS v FROM wq1, n1),
    s2 AS (SELECT q.vec_id, sum(q.q * v1.v) AS s
           FROM q JOIN v1 USING (j) GROUP BY 1),
    w2 AS (SELECT q.j, sum(q.q * s2.s) AS w
           FROM q JOIN s2 USING (vec_id) GROUP BY 1),
    wq2 AS (SELECT j, CAST(floor(CAST(w AS DOUBLE) / 1000000000.0)
                           AS BIGINT) AS wq FROM w2),
    n2 AS (SELECT sqrt(CAST(sum(wq * wq) AS DOUBLE)) AS nrm FROM wq2),
    v2 AS (SELECT j, CAST(floor(CAST(wq AS DOUBLE) * 1000000.0 / nrm)
                          AS BIGINT) AS v FROM wq2, n2),
    s3 AS (SELECT q.vec_id, sum(q.q * v2.v) AS s
           FROM q JOIN v2 USING (j) GROUP BY 1),
    w3 AS (SELECT q.j, sum(q.q * s3.s) AS w
           FROM q JOIN s3 USING (vec_id) GROUP BY 1),
    wq3 AS (SELECT j, CAST(floor(CAST(w AS DOUBLE) / 1000000000.0)
                           AS BIGINT) AS wq FROM w3),
    n3 AS (SELECT sqrt(CAST(sum(wq * wq) AS DOUBLE)) AS nrm FROM wq3),
    v3 AS (SELECT j, CAST(floor(CAST(wq AS DOUBLE) * 1000000.0 / nrm)
                          AS BIGINT) AS v FROM wq3, n3)
    SELECT CAST(j - 1 AS INTEGER) AS j, v AS v_e6 FROM v3
    """,
)
def pca_power_iteration_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal embedding direction via THREE power-iteration steps
    over the (uncentered) Gram matrix — iterative distributed linear
    algebra without ever materializing the 64×64 covariance: each step
    is two matvec aggregations (s = Xv per vector, w = Xᵀs per
    dimension). Cross-engine exactness by the pagerank recipe:
    embeddings quantize to integers (floor(x·1000)), every matvec is
    exact BIGINT arithmetic, and each normalization runs a FIXED
    deterministic op sequence (int→double cast, divide, sqrt, floor —
    all IEEE correctly-rounded) so both engines walk bit-identical
    iterates. The oracle unrolls the three iterations as CTEs.

    Scale shape: per iteration, one |rows|-grain join+agg (s) and one
    |dims|-grain agg (w); v is 64 rows, always broadcast. At 10¹⁰
    embeddings this is the standard distributed PCA/top-eigenvector
    topology (TruncatedSVD's power kernel); iteration count is the
    driver-side loop, state is one tiny vector — nothing about the
    plan changes with scale.

    Reference basis: LLM-pipeline extension (embedding analytics
    family: similarity, quantization, IVF — this adds the spectral
    primitive)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", F.posexplode("embedding").alias("j", "x")
    ).select(
        "vec_id",
        F.col("j").cast("int").alias("j"),
        F.floor(F.col("x").cast("double") * 1000).cast("long").alias("q"),
    )
    # materialize the quantized matrix ONCE: every iteration consumes q
    # twice (Xv and Xᵀs), and an unmaterialized lineage re-derives the
    # posexplode per consumer — 6 redundant scans over 3 iterations
    # (the iterative-reuse rule: pagerank checkpoints its edges the
    # same way; at 10¹⁰ embeddings this is a cached/checkpointed table).
    # HASH-PARTITION it by vec_id BEFORE the checkpoint (optimization
    # guide §2.4 — two operations keyed the same way share one exchange):
    # localCheckpoint pins the physical partitioning, so every
    # iteration's groupBy("vec_id") and q⋈s join are exchange-free on
    # the q side. Without this, Catalyst auto-broadcast the per-vector
    # s (fits the threshold at test SF — impossible at 10¹⁰ rows, where
    # the fallback is a full SortMergeJoin re-shuffling q every
    # iteration); s carries an explicit SHUFFLE_HASH hint so the
    # co-partitioned join builds on the small per-partition s slice and
    # never sorts q.
    q = q.repartition(F.col("vec_id")).localCheckpoint(eager=True)
    v = q.select("j").distinct().select(
        "j", F.lit(1000000).cast("long").alias("v")
    )
    for _ in range(3):
        s = (
            q.join(F.broadcast(v), "j")
            .groupBy("vec_id")
            .agg(F.sum(F.col("q") * F.col("v")).alias("s"))
        )
        w = (
            q.join(s.hint("shuffle_hash"), "vec_id")
            .groupBy("j")
            .agg(F.sum(F.col("q") * F.col("s")).alias("w"))
        )
        wq = w.select(
            "j",
            F.floor(F.col("w").cast("double") / F.lit(1000000000.0))
            .cast("long")
            .alias("wq"),
        )
        # truncate the unrolled lineage at the 64-row iterate: wq feeds
        # BOTH the norm aggregate and the next v, so without a
        # materialization barrier each iteration's plan embeds the prior
        # iteration's subtree TWICE — the whole 3-step unroll grows
        # exponentially (the measured plan carried 6 joins and re-derived
        # q repeatedly). Checkpointing dim-bounded (64-row) state per
        # iteration is the standard iterative-algorithm recipe (guide
        # §3.3: very large plans — materialize an intermediate to
        # truncate); cost is one tiny job per iteration at any scale.
        wq = wq.localCheckpoint(eager=True)
        norm = wq.agg(
            F.sqrt(F.sum(F.col("wq") * F.col("wq")).cast("double")).alias(
                "nrm"
            )
        )
        v = wq.crossJoin(F.broadcast(norm)).select(
            "j",
            F.floor(F.col("wq").cast("double") * 1000000.0 / F.col("nrm"))
            .cast("long")
            .alias("v"),
        )
    return v.select("j", F.col("v").alias("v_e6"))


# ------------------ Python DataSource SIMPLE stream reader --


@query(
    "python_datasource_simple_stream",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           CAST(max(event_id) AS BIGINT) AS max_event_id
    FROM events GROUP BY 1
    """,
)
def python_datasource_simple_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SIMPLE Python streaming-reader contract
    (``SimpleDataSourceStreamReader``, sources/pyds.py
    `EventsReplaySimpleDataSource`) — the no-partition-planning half of
    the streaming source API: the DRIVER pulls (rows, nextOffset) pairs
    and Spark's wrapper handles prefetch, offset bookkeeping and crash
    replay via readBetweenOffsets. Completes the Python DataSource V2
    matrix: batch read (geojson), batch read + pushdown, batch sink,
    partitioned stream read, stream sink — and now the simple stream
    read. Graded value-for-value: stream the whole events backlog
    through the simple reader (availableNow), final complete-mode
    aggregate must equal the batch table's.

    Scale shape: driver-side by DESIGN — the contract for low-volume
    control/CDC-trickle streams; bulk streams use the partition-based
    reader (python_datasource_stream_agg, graded r9). Grading both
    pins that the engine offers the right tool at each volume.

    Reference basis: S-family streaming-source surface (SURVEY §2.1
    S1/S6 harness substitutions)."""
    import uuid as _uuid

    from sparkksqldbbenchmark_spark.sources.pyds import (
        register_python_sources,
    )
    from sparkksqldbbenchmark_spark.streaming.pipeline import run_to_memory

    register_python_sources(spark)
    stream = (
        spark.readStream.format("events_replay_simple")
        .option("path", f"{sf_dir}/events.parquet")
        .load()
        .select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    agged = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("long").alias("cents_sum"),
        F.max("event_id").cast("long").alias("max_event_id"),
    )
    name = f"simple_stream_{_uuid.uuid4().hex[:8]}"
    q = run_to_memory(agged, name, output_mode="complete")
    q.stop()
    return spark.table(name)


# ----------------------------- running distinct users per type --


@query(
    "running_distinct_users",
    oracle="""
    WITH firsts AS (
        SELECT event_type, user_id,
               CAST(min(date_trunc('day', ts)) AS DATE) AS first_day
        FROM events GROUP BY 1, 2
    ),
    daily AS (
        SELECT event_type, first_day AS day,
               count(*) AS new_users
        FROM firsts GROUP BY 1, 2
    )
    SELECT event_type,
           strftime(day, '%Y-%m-%d') AS day,
           new_users,
           CAST(sum(new_users) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cumulative_users
    FROM daily
    """,
)
def running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over time — the window frame SQL forbids
    (no engine supports `count(DISTINCT) OVER (ORDER BY ...)`),
    expressed the scalable way: a user's contribution reduces to their
    FIRST appearance day (one aggregate), then daily new-user counts
    fold into a running sum over day grain. The classic audience-growth
    / cumulative-reach query, graded value-for-value against the same
    derivation in DuckDB.

    Scale shape: one (type, user) aggregate — bounded by distinct
    pairs, partial-combined map-side — then a day-grain window
    (|days| rows per type, trivially small). The naive alternative
    (re-counting distincts per day) is O(days × users) and shuffles
    the fact table once per day; this is the rewrite that makes the
    query linear. first-appearance machinery shared with
    cohort_retention (r6) and ngram_novelty_growth (staged).

    Reference basis: SURVEY §2.4/§2.5 window-aggregate family
    extension."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("event_type", "user_id").agg(
        F.min(F.date_trunc("day", "ts")).cast("date").alias("first_day")
    )
    daily = firsts.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


# --------------------------------- struct-equality join keys --


@query(
    "struct_equality_join",
    oracle="""
    WITH a AS (
        SELECT user_id % 100 AS ub, event_type, count(*) AS na
        FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2
    ),
    b AS (
        SELECT user_id % 100 AS ub, event_type, count(*) AS nb
        FROM events WHERE event_id % 2 = 1 GROUP BY 1, 2
    )
    SELECT a.ub AS user_bucket,
           a.event_type,
           CAST(a.na AS BIGINT) AS n_even,
           CAST(b.nb AS BIGINT) AS n_odd,
           CAST(a.na * b.nb AS BIGINT) AS n_pairs
    FROM a JOIN b ON a.ub = b.ub AND a.event_type = b.event_type
    """,
)
def struct_equality_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join keyed on STRUCT equality — one composite `struct(bucket,
    type)` column on each side instead of a two-column condition:
    struct comparison is field-wise left-to-right (null-safe per
    field), so the join must behave exactly like its expanded twin —
    which is what the oracle spells, proving the struct path adds no
    semantic drift. Struct keys are how composite join keys travel
    through APIs that accept ONE key expression (dropDuplicates,
    joinWith, keyBy-style libraries).

    Scale shape: Catalyst hashes the struct as a single key — same
    exchange as the multi-column join; both sides pre-aggregated so
    the join input is |buckets × types| rows, and the pair count is
    the product of the grouped counts (computing it post-join instead
    of joining raw rows keeps the plan at aggregate grain — the
    anti-blow-up rewrite).

    Reference basis: SURVEY §2.3 J-family semantics extension."""
    ev = load_table(spark, sf_dir, "events")

    def side(parity: int, cnt: str) -> DataFrame:
        return (
            ev.where(F.col("event_id") % 2 == parity)
            .groupBy(
                (F.col("user_id") % 100).alias("ub"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias(cnt))
            .select(
                F.struct(F.col("ub"), F.col("event_type")).alias("k"),
                cnt,
            )
        )

    a, b = side(0, "na"), side(1, "nb")
    joined = a.join(b, a["k"] == b["k"])
    return joined.select(
        a["k"]["ub"].alias("user_bucket"),
        a["k"]["event_type"].alias("event_type"),
        F.col("na").cast("long").alias("n_even"),
        F.col("nb").cast("long").alias("n_odd"),
        (F.col("na") * F.col("nb")).cast("long").alias("n_pairs"),
    )


# -------------------- SemDeDup-style quantized centroid prune --


@query(
    "semdedup_quantized_prune",
    oracle="""
    WITH q AS (
        SELECT vec_id, CAST(r.j AS INTEGER) AS j,
               CAST(floor(CAST(embedding[CAST(r.j AS INTEGER)] AS DOUBLE)
                          * 100) AS BIGINT) AS q
        FROM embeddings, LATERAL (
            SELECT unnest(range(1, len(embedding) + 1)) AS j
        ) r
    ),
    cent AS (
        SELECT vec_id AS cid, j, q AS cq FROM q WHERE vec_id < 8
    ),
    dots AS (
        SELECT q.vec_id, cent.cid, sum(q.q * cent.cq) AS dot
        FROM q JOIN cent USING (j)
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT vec_id, cid, dot,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY dot DESC, cid
               ) AS rk
        FROM dots
    ),
    assigned AS (
        SELECT vec_id, cid, dot AS best_dot
        FROM ranked WHERE rk = 1
    ),
    pairs AS (
        SELECT a.cid,
               a.vec_id AS keep_id,
               b.vec_id AS prune_id,
               sum(qa.q * qb.q) AS pair_dot
        FROM assigned a
        JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
        JOIN q qa ON qa.vec_id = a.vec_id
        JOIN q qb ON qb.vec_id = b.vec_id AND qb.j = qa.j
        GROUP BY 1, 2, 3
    ),
    pruned AS (
        SELECT DISTINCT cid, prune_id
        FROM pairs WHERE pair_dot > 150000
    )
    SELECT a.cid AS cluster_id,
           count(*) AS cluster_size,
           CAST(coalesce(sum(CASE WHEN p.prune_id IS NOT NULL
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_pruned,
           CAST(count(*) - coalesce(sum(CASE WHEN p.prune_id IS NOT NULL
                                             THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_kept
    FROM assigned a
    LEFT JOIN pruned p
      ON p.cid = a.cid AND p.prune_id = a.vec_id
    GROUP BY 1
    """,
)
def semdedup_quantized_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper)
    re-expressed exactly: cluster embeddings around centroids, then
    prune all-but-one of every within-cluster semantic-duplicate pair.
    Cross-engine exact by integer quantization (floor(x·100) per
    component): centroid assignment is argmax EXACT integer dot
    product (ties → lowest centroid id, pinned via min_by over a
    (-dot, cid) pair), duplicate pairs are exact integer dots above an
    integer threshold, and the keep-rule (lowest vec_id survives) is
    deterministic. Centroids are the first 8 vectors by vec_id — a
    deterministic stand-in for k-means (whose float iterations no
    cross-engine oracle can replay; the PRUNE semantics, not centroid
    quality, is what this row grades).

    Scale shape: assignment is |vecs|×K dots (K broadcast); the
    pairwise stage is per-cluster quadratic — EXACTLY the SemDeDup
    trade, bounded by cluster size: at 10¹⁰ embeddings you raise K so
    clusters stay ~10³-10⁴ vectors and the n² term stays executor-
    sized. Never corpus×corpus: the join is gated on cluster id.

    Reference basis: LLM-pipeline extension (dedup family: exact,
    minhash, simhash, ngram, containment, embedding-cosine — this adds
    the cluster-then-prune semantic variant)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", F.posexplode("embedding").alias("j", "x")
    ).select(
        "vec_id",
        F.col("j").cast("int").alias("j"),
        F.floor(F.col("x").cast("double") * 100).cast("long").alias("q"),
    )
    # materialize the quantized grain once: four consumers below (the
    # iterative-reuse rule, same as pagerank's edge checkpoint), hash-
    # partitioned by vec_id so the assignment aggregations
    # (groupBy(vec_id, cid) / groupBy(vec_id)) and the pair-side
    # vec_id joins run exchange-free on the matrix grain (guide §2.4)
    q = q.repartition(F.col("vec_id")).localCheckpoint(eager=True)
    # SQL over a view of the quantized grain: the pairwise stage is a
    # self-join three deep, where DataFrame lineage tracking rejects
    # the reuse — SQL names resolve per alias, same plan either way
    q.createOrReplaceTempView("semdedup_q")
    return spark.sql(
        """
        WITH cent AS (
            SELECT vec_id AS cid, j, q AS cq
            FROM semdedup_q WHERE vec_id < 8
        ),
        dots AS (
            SELECT q.vec_id, cent.cid, sum(q.q * cent.cq) AS dot
            FROM semdedup_q q JOIN cent USING (j)
            GROUP BY 1, 2
        ),
        assigned AS (
            SELECT vec_id,
                   min_by(cid, struct(-dot, cid)) AS cid,
                   max(dot) AS best_dot
            FROM dots GROUP BY vec_id
        ),
        pairs AS (
            SELECT a.cid,
                   a.vec_id AS keep_id,
                   b.vec_id AS prune_id,
                   sum(qa.q * qb.q) AS pair_dot
            FROM assigned a
            JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
            JOIN semdedup_q qa ON qa.vec_id = a.vec_id
            JOIN semdedup_q qb ON qb.vec_id = b.vec_id AND qb.j = qa.j
            GROUP BY 1, 2, 3
        ),
        pruned AS (
            SELECT DISTINCT cid, prune_id
            FROM pairs WHERE pair_dot > 150000
        )
        SELECT a.cid AS cluster_id,
               count(*) AS cluster_size,
               CAST(coalesce(sum(CASE WHEN p.prune_id IS NOT NULL
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_pruned,
               CAST(count(*) - coalesce(sum(CASE WHEN p.prune_id IS NOT
                                                 NULL THEN 1 ELSE 0 END),
                                        0) AS BIGINT) AS n_kept
        FROM assigned a
        LEFT JOIN pruned p
          ON p.cid = a.cid AND p.prune_id = a.vec_id
        GROUP BY 1
        """
    )


# ------------------------------- as-of join, NEAREST direction --


@query(
    "asof_nearest_join",
    oracle="""
    WITH ref AS (
        SELECT user_id, ts AS rts,
               CAST(floor(value * 100) AS BIGINT) AS rcents
        FROM events WHERE event_id % 100 = 0
    ),
    tagged AS (
        SELECT user_id, ts, event_id, NULL AS rts, NULL AS rcents,
               0 AS is_ref
        FROM events WHERE event_id % 100 <> 0 AND event_id < 20000
        UNION ALL
        SELECT user_id, rts AS ts, NULL AS event_id, rts, rcents,
               1 AS is_ref
        FROM ref
    ),
    filled AS (
        SELECT user_id, ts, event_id, is_ref,
               max_by(rts, CASE WHEN is_ref = 1 THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts, is_ref DESC,
                                         coalesce(event_id, -1)
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS back_ts,
               max_by(rcents, CASE WHEN is_ref = 1 THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts, is_ref DESC,
                                         coalesce(event_id, -1)
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS back_cents,
               min_by(rts, CASE WHEN is_ref = 1 THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts, is_ref DESC,
                                         coalesce(event_id, -1)
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS fwd_ts,
               min_by(rcents, CASE WHEN is_ref = 1 THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts, is_ref DESC,
                                         coalesce(event_id, -1)
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS fwd_cents
        FROM tagged
    )
    SELECT event_id, user_id,
           CASE WHEN back_ts IS NULL THEN 'fwd'
                WHEN fwd_ts IS NULL THEN 'back'
                WHEN epoch_us(ts) - epoch_us(back_ts)
                     <= epoch_us(fwd_ts) - epoch_us(ts) THEN 'back'
                ELSE 'fwd' END AS side,
           CASE WHEN back_ts IS NULL THEN fwd_cents
                WHEN fwd_ts IS NULL THEN back_cents
                WHEN epoch_us(ts) - epoch_us(back_ts)
                     <= epoch_us(fwd_ts) - epoch_us(ts)
                THEN back_cents ELSE fwd_cents END AS nearest_cents,
           CASE WHEN back_ts IS NULL
                THEN epoch_us(fwd_ts) - epoch_us(ts)
                WHEN fwd_ts IS NULL
                THEN epoch_us(ts) - epoch_us(back_ts)
                ELSE least(epoch_us(ts) - epoch_us(back_ts),
                           epoch_us(fwd_ts) - epoch_us(ts))
           END AS delta_us
    FROM filled WHERE is_ref = 0
    """,
)
def asof_nearest_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST direction (completes the as-of matrix:
    backward r3, tolerance r8 — this picks whichever reference reading
    is CLOSER in time, ties to the earlier one): the union-tag
    last-carry trick run in BOTH directions in one sorted pass — carry
    the latest reference backward-looking AND the next reference
    forward-looking, then a pure projection picks the nearer side. ONE
    shuffle on the key, no range join, no per-row subquery — the same
    plan discipline as the graded as-of rows.

    Scale shape: one hash exchange on user_id + in-partition sort over
    events∪refs; both carries ride the same sort. The projection is
    codegen. This is the canonical sensor-alignment topology (align
    each reading to the nearest calibration sample).

    Reference basis: SURVEY §2.3 as-of family completion (J-extension
    rows graded since r3)."""
    ev = load_table(spark, sf_dir, "events")
    ref = ev.where(F.col("event_id") % 100 == 0).select(
        "user_id",
        F.col("ts").alias("rts"),
        F.floor(F.col("value") * 100).cast("long").alias("rcents"),
    )
    left = ev.where(
        (F.col("event_id") % 100 != 0) & (F.col("event_id") < 20000)
    ).select("user_id", "ts", "event_id")
    tagged = left.select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("timestamp").alias("rts"),
        F.lit(None).cast("long").alias("rcents"),
        F.lit(0).alias("is_ref"),
    ).unionByName(
        ref.select(
            "user_id",
            F.col("rts").alias("ts"),
            F.lit(None).cast("long").alias("event_id"),
            "rts",
            "rcents",
            F.lit(1).alias("is_ref"),
        )
    )
    # refs sort BEFORE same-instant events (is_ref DESC): an event at
    # exactly a reference instant matches it with delta 0 on the
    # backward side — the tie rule the oracle spells identically
    order = [
        F.col("ts"),
        F.col("is_ref").desc(),
        F.coalesce("event_id", F.lit(-1)),
    ]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    ref_ts = F.when(F.col("is_ref") == 1, F.col("ts"))
    filled = tagged.select(
        "user_id",
        "ts",
        "event_id",
        "is_ref",
        F.max_by("rts", ref_ts).over(wb).alias("back_ts"),
        F.max_by("rcents", ref_ts).over(wb).alias("back_cents"),
        F.min_by("rts", ref_ts).over(wf).alias("fwd_ts"),
        F.min_by("rcents", ref_ts).over(wf).alias("fwd_cents"),
    )
    d_back = F.unix_micros("ts") - F.unix_micros("back_ts")
    d_fwd = F.unix_micros("fwd_ts") - F.unix_micros("ts")
    pick_back = F.col("back_ts").isNotNull() & (
        F.col("fwd_ts").isNull() | (d_back <= d_fwd)
    )
    return filled.where(F.col("is_ref") == 0).select(
        "event_id",
        "user_id",
        F.when(pick_back, F.lit("back")).otherwise(F.lit("fwd")).alias(
            "side"
        ),
        F.when(pick_back, F.col("back_cents"))
        .otherwise(F.col("fwd_cents"))
        .alias("nearest_cents"),
        F.when(
            F.col("back_ts").isNull(), d_fwd
        )
        .when(F.col("fwd_ts").isNull(), d_back)
        .otherwise(F.least(d_back, d_fwd))
        .alias("delta_us"),
    )


# ----------------------- MAD robust outliers (histogram form) --


@query(
    "mad_robust_outliers",
    oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    h1 AS (
        SELECT event_type, cents, count(*) AS cnt FROM c GROUP BY 1, 2
    ),
    cum1 AS (
        SELECT event_type, cents, cnt,
               sum(cnt) OVER (
                   PARTITION BY event_type ORDER BY cents
               ) AS cum,
               sum(cnt) OVER (PARTITION BY event_type) AS n
        FROM h1
    ),
    med AS (
        SELECT event_type, min(cents) AS med
        FROM cum1 WHERE cum >= (n + 1) // 2 GROUP BY 1
    ),
    d AS (
        SELECT c.event_type, abs(c.cents - med.med) AS dev
        FROM c JOIN med USING (event_type)
    ),
    h2 AS (
        SELECT event_type, dev, count(*) AS cnt FROM d GROUP BY 1, 2
    ),
    cum2 AS (
        SELECT event_type, dev, cnt,
               sum(cnt) OVER (
                   PARTITION BY event_type ORDER BY dev
               ) AS cum,
               sum(cnt) OVER (PARTITION BY event_type) AS n
        FROM h2
    ),
    mad AS (
        SELECT event_type, min(dev) AS mad
        FROM cum2 WHERE cum >= (n + 1) // 2 GROUP BY 1
    )
    SELECT d.event_type,
           CAST(max(med.med) AS BIGINT) AS median_cents,
           CAST(max(mad.mad) AS BIGINT) AS mad_cents,
           count(*) AS n,
           CAST(sum(CASE WHEN d.dev > 3 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM d
    JOIN med USING (event_type)
    JOIN mad USING (event_type)
    GROUP BY 1
    """,
)
def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by MEDIAN ABSOLUTE DEVIATION — the
    estimator that survives 50% contamination where mean±kσ breaks at
    one bad point: per group, exact nearest-rank median, exact
    nearest-rank MAD of the deviations, then the 3×MAD outlier count.
    Everything integer (cents), both medians computed in HISTOGRAM
    form — count per distinct value, cumulative over the VALUE DOMAIN
    (≤100k cents), pick the first value whose cumulative count reaches
    ⌈n/2⌉ — the scale-safe rewrite the r4 nearest-rank row pioneered:
    no per-row global sort, window input bounded by distinct values,
    not rows.

    Scale shape: two bounded-domain histogram passes + one broadcast
    join of the 5-row median/MAD tables back to the scan. Exact
    robust statistics at any row count.

    Reference basis: SURVEY §2.4 A4/A5 family (percentile/stddev
    rows); MAD is the robust twin the reference's monitoring would
    want at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )

    def nearest_rank_median(df: DataFrame, col: str) -> DataFrame:
        h = df.groupBy("event_type", col).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        wcum = (
            Window.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wall = Window.partitionBy("event_type")
        cum = h.select(
            "event_type",
            col,
            F.sum("cnt").over(wcum).alias("cum"),
            F.sum("cnt").over(wall).alias("n"),
        )
        return (
            cum.where(F.col("cum") >= F.expr("(n + 1) div 2"))
            .groupBy("event_type")
            .agg(F.min(col).alias(f"med_{col}"))
        )

    med = nearest_rank_median(c, "cents").withColumnRenamed(
        "med_cents", "med"
    )
    d = c.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("cents") - F.col("med")).alias("dev")
    )
    mad = nearest_rank_median(d, "dev").withColumnRenamed(
        "med_dev", "mad"
    )
    return (
        d.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med").cast("long").alias("median_cents"),
            F.max("mad").cast("long").alias("mad_cents"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# ----------------------- triangle counting on the dup graph --


def _triangle_oracle(k: int = 16, bands: int = 4, n: int = 3) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import (
        sql_minhash_sig,
        sql_word_shingles,
    )

    rows = k // bands
    sh = sql_word_shingles("text", n)
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
    ), tris AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM pairs e1
        JOIN pairs e2 ON e1.v = e2.u
        JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    ), node_tris AS (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
    ), tri_cnt AS (
        SELECT node, count(*) AS n_triangles
        FROM node_tris GROUP BY 1
    ), deg AS (
        SELECT node, count(*) AS d FROM (
            SELECT u AS node FROM pairs
            UNION ALL SELECT v FROM pairs
        ) GROUP BY 1
    )
    SELECT deg.node AS doc_id,
           CAST(deg.d AS BIGINT) AS degree,
           CAST(coalesce(tri_cnt.n_triangles, 0) AS BIGINT)
               AS n_triangles,
           CASE WHEN deg.d >= 2
                THEN (CAST(2 * coalesce(tri_cnt.n_triangles, 0)
                           AS DOUBLE)) / (deg.d * (deg.d - 1))
                ELSE CAST(0 AS DOUBLE) END AS clustering_coeff
    FROM deg LEFT JOIN tri_cnt ON deg.node = tri_cnt.node
    """


@query("dupgraph_triangle_count", oracle=_triangle_oracle())
def dupgraph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting + local clustering coefficients over the
    near-duplicate graph — the standard audit for whether LSH
    components are true duplicate CLIQUES (coefficient ≈ 1: one
    underlying document family) or chained false-positive paths
    (coefficient ≈ 0: band collisions stitching unrelated docs). The
    compact-forward algorithm on ordered edges (u<v): join wedges
    e1(a,b)⋈e2(b,c) and close against e3(a,c) — every triangle counted
    exactly once, then re-attributed to all three corners.

    Scale shape: wedge join keyed on the shared vertex, closure join
    on the (a,c) pair — both hash exchanges on vertex/pair keys; the
    dup graph's degree is bounded by LSH design (banded buckets cap
    candidate fan-out), which is precisely what keeps the wedge count
    near-linear here while generic social graphs need degree-ordered
    compaction (which ordering by doc_id already provides).

    Reference basis: LLM-pipeline extension (dup-graph family:
    dedup_clusters r4, dup_graph_degree_stats r8, pagerank r10 — this
    adds the clique-quality audit)."""
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
    pairs = pairs.localCheckpoint(eager=True)  # 4 consumers: fix plan
    e1 = pairs.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = pairs.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = pairs.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tris = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select("a", "b", "c")
    )
    node_tris = (
        tris.select(F.col("a").alias("node"))
        .unionByName(tris.select(F.col("b").alias("node")))
        .unionByName(tris.select(F.col("c").alias("node")))
    )
    tri_cnt = node_tris.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionByName(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return deg.join(tri_cnt, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.col("d").cast("long").alias("degree"),
        F.coalesce("n_triangles", F.lit(0))
        .cast("long")
        .alias("n_triangles"),
        F.when(
            F.col("d") >= 2,
            (2 * F.coalesce("n_triangles", F.lit(0)).cast("double"))
            / (F.col("d") * (F.col("d") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )


# --------------------- Zipf tail mass via dyadic rank buckets --


@query(
    "vocab_dyadic_rank_mass",
    oracle="""
    WITH tf AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    counts AS (
        SELECT tok, count(*) AS n FROM tf GROUP BY tok
    ),
    ranked AS (
        SELECT tok, n,
               row_number() OVER (ORDER BY n DESC, tok) AS r
        FROM counts
    )
    SELECT CAST(length(bin(r)) AS INTEGER) AS rank_bucket,
           count(*) AS n_tokens,
           CAST(sum(n) AS BIGINT) AS mass,
           CAST(min(r) AS BIGINT) AS rank_lo,
           CAST(max(r) AS BIGINT) AS rank_hi
    FROM ranked GROUP BY 1
    """,
)
def vocab_dyadic_rank_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf tail diagnostics WITHOUT logarithms: bucket token ranks
    dyadically (bucket = bit count of the rank — length(bin(r)), exact
    integers in both engines where log2 would be libm) and report each
    bucket's token count and occurrence mass. For a Zipf-s corpus the
    per-bucket mass falls geometrically with a ratio determined by s —
    so the bucket-mass sequence IS the tail-index readout, computed
    from exact sums a dashboard can threshold. The standard corpus
    health check (is the head too heavy? did dedup flatten the tail?).

    Scale shape: token-count aggregate (bounded by vocabulary),
    one ranking window over the VOCAB (not the corpus — the window
    input is |distinct tokens|, and at 100 TB rank-by-frequency is
    still vocab-bounded), then a ≤40-row bucket aggregate.

    Reference basis: LLM-pipeline extension (vocabulary family:
    vocab_top_tokens r3, collision_probability r10, novelty staged)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    ranked = counts.select("n", F.row_number().over(w).alias("r"))
    return ranked.groupBy(
        F.length(F.bin("r")).cast("int").alias("rank_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("n").cast("long").alias("mass"),
        F.min("r").cast("long").alias("rank_lo"),
        F.max("r").cast("long").alias("rank_hi"),
    )


# ------------------------- k-core decomposition (3 peels) --


def _kcore_oracle(k: int = 16, bands: int = 4, n: int = 3) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import (
        sql_minhash_sig,
        sql_word_shingles,
    )

    rows = k // bands
    sh = sql_word_shingles("text", n)
    peel_tpl = """
    , alive{i} AS (
        SELECT node FROM (
            SELECT e.src AS node, count(*) AS d
            FROM edges e
            JOIN alive{p} a1 ON e.src = a1.node
            JOIN alive{p} a2 ON e.dst = a2.node
            GROUP BY 1
        ) WHERE d >= 2
    )"""
    peels = "".join(peel_tpl.format(i=i, p=i - 1) for i in (1, 2, 3))
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
    ), alive0 AS (
        SELECT DISTINCT src AS node FROM edges
    ){peels}
    SELECT a0.node AS doc_id,
           CAST(deg.d AS BIGINT) AS degree,
           a3.node IS NOT NULL AS in_2core_after_3_peels
    FROM alive0 a0
    JOIN (SELECT src AS node, count(*) AS d FROM edges GROUP BY 1) deg
      ON a0.node = deg.node
    LEFT JOIN alive3 a3 ON a0.node = a3.node
    """


@query("kcore_dupgraph_3peel", oracle=_kcore_oracle())
def kcore_dupgraph_3peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core decomposition of the near-duplicate graph by THREE
    rounds of degree peeling — nodes whose degree (counted among
    still-alive nodes) falls below 2 are removed each round. The
    2-core separates genuine duplicate clusters (cyclic, survive
    peeling) from chain debris (trees of accidental band collisions,
    peeled away) — the graph-theoretic version of the clique-quality
    audit the triangle row grades locally. Exact set semantics,
    iteration unrolled in the oracle exactly like pagerank's.

    Scale shape: each peel is one join of edges against the alive set
    (hash exchange on node id) + a degree aggregate — the standard
    distributed k-core round; 3 rounds is the audit depth (full
    convergence is a driver-side loop on the same plan at 100 TB, with
    the alive set shrinking monotonically so later rounds cost less).

    Reference basis: LLM-pipeline extension (dup-graph family:
    clusters r4, degree stats r8, pagerank r10, triangles staged)."""
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
    edges = edges.localCheckpoint(eager=True)  # 8 consumers: fix plan
    alive = edges.select(F.col("src").alias("node")).distinct()
    deg0 = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    for _ in range(3):
        alive_src = alive.select(F.col("node").alias("src"))
        alive_dst = alive.select(F.col("node").alias("dst"))
        alive = (
            edges.join(alive_src, "src")
            .join(alive_dst, "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= 2)
            .select("node")
        )
    survivors = alive.withColumn("alive", F.lit(True))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    return (
        nodes.join(deg0, "node")
        .join(survivors, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.col("d").alias("degree"),
            F.coalesce("alive", F.lit(False)).alias(
                "in_2core_after_3_peels"
            ),
        )
    )


# ----------------------------------- binaryFile source format --


@query(
    "binaryfile_source_scan",
    oracle="""
    SELECT count(*) AS n_files,
           CAST(sum(n_chars) AS BIGINT) AS payload_bytes,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM documents WHERE doc_id < 64
    """,
)
def binaryfile_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``binaryFile`` source — Spark's whole-file-as-a-row reader
    (path, modificationTime, length, content), the ingestion front
    door for the multimodal columns this engine treats as opaque
    binary: land one file per document (ASCII text bytes, so
    payload length == n_chars exactly), scan the directory as
    binaryFile, recover each doc_id from its file NAME, and aggregate
    count/total-bytes/id-range — every value re-derivable by the
    oracle from the documents table itself. In-query assertions pin
    the per-row contract: content length equals the reported length
    column on every file.

    Scale shape: one row per file, content never leaves the executor
    that read it (the downstream aggregate ships 8-byte lengths);
    pathGlobFilter + partition-dir layout give the same pruning levers
    as any file source. This is exactly how image/audio corpora enter
    a Spark pipeline before the mapInPandas decode stage (multimodal
    rows, graded r5-r9).

    Reference basis: S-family source completion (SURVEY §2.1)."""
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="binsrc_")
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 64)
        .select("doc_id", "text", "n_chars")
    )
    rows = docs.collect()  # 64 small files: driver-side fixture write
    for r in rows:
        with open(os.path.join(d, f"doc_{r.doc_id:05d}.txt"), "wb") as fh:
            fh.write(r.text.encode("ascii"))

    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(d)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt", 1)
            .cast("long")
            .alias("doc_id"),
            F.length("content").alias("content_len"),
            F.col("length").alias("reported_len"),
        )
    )
    mismatches = back.where(
        F.col("content_len") != F.col("reported_len")
    ).count()
    assert mismatches == 0, "binaryFile length column != content bytes"
    return back.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("content_len").cast("long").alias("payload_bytes"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )


# ------------------------- quoted multi-line CSV round-trip --


@query(
    "csv_quoted_multiline_roundtrip",
    oracle="""
    SELECT count(*) AS n_docs,
           CAST(sum(CAST(len(payload) AS BIGINT)) AS BIGINT)
               AS payload_chars,
           CAST(sum(CASE WHEN payload LIKE '%' || chr(10) || '%'
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_with_newline,
           CAST(sum(CAST(doc_id AS BIGINT)) AS BIGINT) AS id_sum
    FROM (
        SELECT doc_id,
               'line1: ' || substring(text, 1, 40) || chr(10)
                   || 'line2, "quoted", '
                   || substring(text, 41, 20) AS payload
        FROM documents WHERE doc_id < 500
    )
    """,
)
def csv_quoted_multiline_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CSV quoting edge the reference's PERMISSIVE reader never
    faces: payloads containing embedded NEWLINES, QUOTES, and the
    delimiter itself. Written with quoting, read back with
    ``multiLine=true`` (without it a quoted newline splits one record
    into two rows) and escaped-quote handling; the aggregate —
    including an exact count of payloads whose round-tripped value
    still contains its newline — must match the oracle computing the
    same from the source table directly. Any quoting/escaping drift
    changes payload_chars and hash-mismatches.

    Scale shape: multiLine CSV forfeits intra-file split parallelism
    (records can span arbitrary byte ranges — files become the unit
    of parallelism), which is WHY columnar formats win at 100 TB;
    this row pins that the engine is still CORRECT on the legacy
    format the reference serves (S5/S8-S10 family).

    Reference basis: SURVEY §2.1 S5 malformed/quoting guard,
    completed for the multi-line case."""
    import tempfile

    d = tempfile.mkdtemp(prefix="csvml_")
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 500)
        .select(
            "doc_id",
            F.concat(
                F.lit("line1: "),
                F.substring("text", 1, 40),
                F.lit("\n"),
                F.lit('line2, "quoted", '),
                F.substring("text", 41, 20),
            ).alias("payload"),
        )
    )
    (
        docs.write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .option("escape", '"')
        # the WRITER trims leading/trailing whitespace by DEFAULT
        # (ignore*WhiteSpace default true on write, false on read) —
        # 103 of 500 payloads here end in a space and would silently
        # shrink by one char before ever reaching the file
        .option("ignoreTrailingWhiteSpace", "false")
        .option("ignoreLeadingWhiteSpace", "false")
        .csv(d)
    )
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .option("ignoreTrailingWhiteSpace", "false")
        .option("ignoreLeadingWhiteSpace", "false")
        .schema("doc_id long, payload string")
        .csv(d)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("payload")).cast("long").alias("payload_chars"),
        F.sum(
            F.when(F.col("payload").contains("\n"), 1).otherwise(0)
        )
        .cast("long")
        .alias("docs_with_newline"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


# ----------------------- T5-style span-corruption mask plan --


@query(
    "span_corruption_mask_plan",
    oracle="""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    blocks AS (
        SELECT doc_id,
               CAST(r.b AS BIGINT) AS block_idx,
               (('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#sc'
                                       || CAST(r.b AS VARCHAR)), 1, 15))
                ::BIGINT % 18) AS off
        FROM d, LATERAL (
            SELECT unnest(range(0, CAST(n_tokens // 20 AS BIGINT))) AS b
        ) r
    )
    SELECT d.doc_id,
           CAST(d.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(count(b.block_idx), 0) AS BIGINT) AS n_blocks,
           CAST(coalesce(count(b.block_idx), 0) * 3 AS BIGINT)
               AS n_masked,
           CAST(coalesce(sum(b.block_idx * 20 + b.off), -1) AS BIGINT)
               AS span_start_sum
    FROM d LEFT JOIN blocks b USING (doc_id)
    GROUP BY d.doc_id, d.n_tokens
    """,
)
def span_corruption_mask_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption PLANNING (the denoising-objective prep
    step): partition each document into 20-token blocks and mask one
    3-token span per block at a deterministic md5-derived offset
    (offset ∈ [0,18) keeps the span inside its block) — exactly a 15%
    corruption rate with mean span length 3, the T5 defaults, but with
    ZERO sequential logic: every span is per-block arithmetic, so the
    plan is one explode + aggregate instead of a per-document scan.
    The masked-count and span-start checksum are exact integers the
    oracle recomputes identically.

    Scale shape: explode to block grain (n_tokens/20 per doc),
    partial-agg back to doc grain. Scan-bound; the downstream
    consumer (actual token replacement) is a zip_with over the same
    span list, already graded machinery (HOF rows).

    Reference basis: LLM-pipeline extension (corpus assembly family:
    packing, budget selection, chunking — this adds the denoising
    mask planner)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    # sequence(0, -1) DESCENDS in Spark — docs under 20 tokens must be
    # excluded before the explode, not left to an empty sequence
    blocks = d.where(F.col("n_tokens") >= 20).select(
        "doc_id",
        F.explode(
            F.expr("sequence(0, int(n_tokens div 20) - 1)")
        ).alias("block_idx"),
    ).select(
        "doc_id",
        F.col("block_idx").cast("long").alias("block_idx"),
        (
            F.expr(
                spark_md5_int(
                    "concat(cast(doc_id as string), '#sc',"
                    " cast(block_idx as string))"
                )
            )
            % 18
        ).alias("off"),
    )
    return (
        d.join(blocks, "doc_id", "left")
        .groupBy("doc_id", "n_tokens")
        .agg(
            F.count("block_idx").cast("long").alias("n_blocks"),
            (F.count("block_idx") * 3).cast("long").alias("n_masked"),
            F.coalesce(
                F.sum(F.col("block_idx") * 20 + F.col("off")), F.lit(-1)
            )
            .cast("long")
            .alias("span_start_sum"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "n_blocks",
            "n_masked",
            "span_start_sum",
        )
    )


# ------------------- checkpoint restart resumes exactly-once --


@query(
    "streaming_checkpoint_restart_resume",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum
    FROM events GROUP BY 1
    """,
)
def streaming_checkpoint_restart_resume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Crash-recovery as a GRADED row (T5/T6 semantics the recovery
    pytest covers unit-wise): run a stateful aggregation over HALF the
    input (availableNow run 1), STOP — state and offsets land in the
    checkpoint — then land the second half and RESTART from the same
    checkpoint (run 2). The resumed query must pick up exactly where
    run 1 committed: no reprocessing of half 1 (counts would double),
    no skipping of half 2 (counts would miss) — the final complete-mode
    state must equal aggregating the whole table in one pass, which is
    what the oracle computes.

    Scale shape: restart cost is state-store reload (proportional to
    live state, not history) + offset-log replay of the UNCOMMITTED
    tail only — the property that makes week-long streaming jobs
    restartable at 100 TB. Source offsets here are file names; in
    deployment, Kafka offsets — same commit protocol.

    Reference basis: SURVEY §2.9 T6 (checkpointing), upgraded from
    pytest coverage to a driver-graded value row."""
    import glob
    import os
    import shutil
    import tempfile
    import uuid as _uuid

    from sparkksqldbbenchmark_spark.catalog import load_table
    from sparkksqldbbenchmark_spark.streaming.pipeline import run_to_memory

    src = tempfile.mkdtemp(prefix="ckres_src_")
    ckpt = tempfile.mkdtemp(prefix="ckres_ckpt_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    # land the table as 4 parquet files; first run sees files 1-2 only
    staging = tempfile.mkdtemp(prefix="ckres_all_")
    ev.repartition(4).write.mode("overwrite").parquet(staging)
    files = sorted(glob.glob(os.path.join(staging, "part-*.parquet")))
    assert len(files) == 4
    for f in files[:2]:
        shutil.copy(f, src)

    def agg_stream():
        stream = (
            # the file source makes every column nullable, as a read-back would
            spark.readStream.schema(ev.schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(src)
        )
        return stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )

    name1 = f"ckres_{_uuid.uuid4().hex[:8]}"
    q1 = run_to_memory(
        agg_stream(), name1, output_mode="complete", checkpoint=ckpt
    )
    q1.stop()
    half_rows = sum(
        r.n_events for r in spark.table(name1).collect()
    )

    for f in files[2:]:
        shutil.copy(f, src)

    name2 = f"ckres_{_uuid.uuid4().hex[:8]}"
    q2 = run_to_memory(
        agg_stream(), name2, output_mode="complete", checkpoint=ckpt
    )
    q2.stop()
    out = spark.table(name2)
    total_rows = sum(r.n_events for r in out.collect())
    # the restart must have ADDED exactly the second half on top of the
    # recovered state (catches both double-processing and state loss)
    assert 0 < half_rows < total_rows, (half_rows, total_rows)
    return out


# ----------------------- length-bucketed inference batching --


@query(
    "length_bucketed_batching",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(string_split(text, ' ')) // 8 AS bucket
        FROM documents
    ),
    numbered AS (
        SELECT doc_id, n_tokens, bucket,
               (row_number() OVER (
                   PARTITION BY bucket ORDER BY n_tokens, doc_id
               ) - 1) // 16 AS batch_idx
        FROM d
    )
    SELECT bucket,
           CAST(batch_idx AS BIGINT) AS batch_idx,
           count(*) AS batch_size,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens,
           CAST(sum(n_tokens) AS BIGINT) AS real_tokens,
           CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
               AS padding_waste
    FROM numbered GROUP BY bucket, batch_idx
    """,
)
def length_bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed inference batching — the serving-side packing
    problem (training-side packing graded since r3): bucket documents
    by token-length octile, order within bucket by exact length, cut
    deterministic batches of 16, and report each batch's PADDING WASTE
    (batch_size × max_len − Σlen) — the number a serving stack
    minimizes, since every padded token is wasted FLOPs. Length-sorted
    bucketing is what turns O(max·n) padding into near-zero; the
    waste column quantifies it exactly.

    Scale shape: one window per bucket (hash exchange on the bucket
    key, in-partition sort by length) + batch-grain aggregate. The
    bucket count scales with max length / 8, keeping partitions
    uniform; at 10¹⁰ docs the same plan runs per (bucket, shard) with
    batch ids offset per shard — a knob, not a rewrite.

    Reference basis: LLM-pipeline extension (corpus assembly family:
    sequence_packing r4, token budget r4, pack audit r10)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        (F.size(F.split("text", " ")) / 8)
        .cast("long")
        .alias("bucket"),
    )
    numbered = d.select(
        "bucket",
        "n_tokens",
        F.expr("(row_number() over (partition by bucket"
               " order by n_tokens, doc_id) - 1) div 16").alias(
            "batch_idx"
        ),
    )
    return numbered.groupBy("bucket", "batch_idx").agg(
        F.count(F.lit(1)).alias("batch_size"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
        F.sum("n_tokens").cast("long").alias("real_tokens"),
        (F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens"))
        .cast("long")
        .alias("padding_waste"),
    )


# ------------------- k-means Lloyd step, integer-quantized --


@query(
    "kmeans_lloyd_step_quantized",
    oracle="""
    WITH q AS (
        SELECT vec_id, CAST(r.j AS INTEGER) AS j,
               CAST(floor(CAST(embedding[CAST(r.j AS INTEGER)] AS DOUBLE)
                          * 100) AS BIGINT) AS q
        FROM embeddings, LATERAL (
            SELECT unnest(range(1, len(embedding) + 1)) AS j
        ) r
    ),
    cent AS (
        SELECT vec_id AS cid, j, q AS cq FROM q WHERE vec_id < 8
    ),
    dots AS (
        SELECT q.vec_id, cent.cid, sum(q.q * cent.cq) AS dot
        FROM q JOIN cent USING (j)
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT vec_id, cid,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY dot DESC, cid
               ) AS rk
        FROM dots
    ),
    assigned AS (
        SELECT vec_id, cid FROM ranked WHERE rk = 1
    ),
    upd AS (
        SELECT a.cid, q.j,
               CAST(sum(q.q) AS BIGINT) AS comp_sum,
               count(*) AS members
        FROM assigned a JOIN q ON q.vec_id = a.vec_id
        GROUP BY 1, 2
    )
    SELECT cid AS cluster_id,
           CAST(j - 1 AS INTEGER) AS j,
           CAST(members AS BIGINT) AS cluster_size,
           comp_sum,
           CAST(floor(CAST(comp_sum AS DOUBLE) * 100 / members)
                AS BIGINT) AS new_centroid_e2
    FROM upd
    """,
)
def kmeans_lloyd_step_quantized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One full Lloyd (k-means) iteration over embeddings, cross-engine
    exact: ASSIGN each vector to its argmax-integer-dot centroid (the
    SemDeDup row's assignment, same tie rule) then UPDATE — each new
    centroid component is the exact integer component-sum divided by
    the cluster size in one fixed-order deterministic op sequence
    (int→double cast, multiply, divide, floor). Iterating this pair IS
    k-means; one graded step pins both halves value-for-value, and the
    driver-side loop at 100 TB just replays this plan with the 8×64
    centroid table swapped per round (the pagerank/PCA iterative
    recipe a third time — assignment, spectral, now centroids).

    Scale shape: assignment is |vecs|×K broadcast dots; the update is
    one (cluster, dim)-grain aggregate — K×64 output rows, partial-
    combined map-side. Scan-bound per iteration.

    Reference basis: LLM-pipeline extension (clustering family:
    SemDeDup prune staged, IVF centroids graded r7 — this adds the
    centroid LEARNING step)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", F.posexplode("embedding").alias("j", "x")
    ).select(
        "vec_id",
        F.col("j").cast("int").alias("j"),
        F.floor(F.col("x").cast("double") * 100).cast("long").alias("q"),
    )
    q = q.localCheckpoint(eager=True)  # assignment + update both scan q
    cent = q.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "j", F.col("q").alias("cq")
    )
    assigned = (
        q.join(F.broadcast(cent), "j")
        .groupBy("vec_id", "cid")
        .agg(F.sum(F.col("q") * F.col("cq")).alias("dot"))
        .groupBy("vec_id")
        .agg(F.expr("min_by(cid, struct(-dot, cid))").alias("cid"))
    )
    upd = (
        q.join(assigned, "vec_id")
        .groupBy("cid", "j")
        .agg(
            F.sum("q").cast("long").alias("comp_sum"),
            F.count(F.lit(1)).alias("members"),
        )
    )
    return upd.select(
        F.col("cid").alias("cluster_id"),
        "j",
        F.col("members").cast("long").alias("cluster_size"),
        "comp_sum",
        F.floor(
            F.col("comp_sum").cast("double") * 100 / F.col("members")
        )
        .cast("long")
        .alias("new_centroid_e2"),
    )


# -------------------- custom stateful streaming top-k per key --


@query(
    "streaming_stateful_topk_per_key",
    oracle="""
    WITH ranked AS (
        SELECT user_id,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               event_id,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY floor(value * 100) DESC, event_id
               ) AS rnk,
               count(*) OVER (PARTITION BY user_id) AS n_seen
        FROM events WHERE user_id < 100
    )
    SELECT user_id,
           CAST(rnk AS INTEGER) AS rnk,
           cents,
           CAST(event_id AS BIGINT) AS event_id,
           CAST(n_seen AS BIGINT) AS n_seen
    FROM ranked WHERE rnk <= 3
    """,
)
def streaming_stateful_topk_per_key(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A CUSTOM stateful streaming operator Spark's built-in aggregates
    cannot express: per-key incremental TOP-K (value ties broken by
    event id) maintained in applyInPandasWithState — the state is the
    current top-3 list plus a seen-count, merged against each
    micro-batch. The memory sink records every per-batch update; the
    final state per (key, rank) is recovered via max_by(·, n_seen)
    exactly like streaming_update_mode_final, and must equal the batch
    window-rank oracle — top-k is order-insensitive, so ANY batch
    split yields the same final state (the property that makes the
    operator exactly-once under replay).

    Scale shape: state is O(k) per key — 3 tuples — regardless of
    history; the per-batch merge is a bounded sort of (state ∪ batch
    rows for that key). This is the leaderboard/alerting operator
    every monitoring stack runs on the stream, third member of the
    custom-state family (sessionize r2, running totals tws, top-k
    now).

    Reference basis: SURVEY §2.9 T-family custom-state extension."""
    import uuid as _uuid

    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    from sparkksqldbbenchmark_spark.plans.streaming_queries import (
        _read_events_stream,
    )
    from sparkksqldbbenchmark_spark.streaming.pipeline import run_to_memory

    ev = _read_events_stream(spark, sf_dir).where(
        F.col("user_id") < 100
    ).select(
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        "event_id",
    )

    def fn(key, pdfs, state: GroupState):
        top: list[tuple] = []
        n_seen = 0
        if state.exists:
            cents, eids, (n0,) = state.get[0], state.get[1], (state.get[2],)
            top = list(zip(cents, eids))
            n_seen = n0
        for pdf in pdfs:
            n_seen += len(pdf)
            top.extend(
                zip(pdf["cents"].tolist(), pdf["event_id"].tolist())
            )
            # keep only the current top-3: sort by (cents desc, eid asc)
            top.sort(key=lambda t: (-t[0], t[1]))
            top = top[:3]
        state.update(
            ([t[0] for t in top], [t[1] for t in top], n_seen)
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(top),
                "rnk": list(range(1, len(top) + 1)),
                "cents": [t[0] for t in top],
                "event_id": [t[1] for t in top],
                "n_seen": [n_seen] * len(top),
            }
        )

    updates = ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "user_id long, rnk int, cents long, event_id long,"
            " n_seen long"
        ),
        stateStructType=(
            "cents array<long>, event_ids array<long>, n_seen long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"topk_state_{_uuid.uuid4().hex[:8]}"
    q = run_to_memory(updates, name, output_mode="update")
    q.stop()
    final = spark.table(name)
    return (
        final.groupBy("user_id", "rnk")
        .agg(
            F.expr("max_by(cents, n_seen)").alias("cents"),
            F.expr("max_by(event_id, n_seen)").alias("event_id"),
            F.max("n_seen").alias("n_seen"),
        )
    )


# ------------------------ bitmap distinct-count functions --


@query(
    "bitmap_distinct_functions",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS distinct_users,
           count(DISTINCT user_id) AS distinct_users_reagg
    FROM events GROUP BY 1
    """,
)
def bitmap_distinct_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bitmap function family (Spark 3.5: bitmap_bucket_number,
    bitmap_bit_position, bitmap_construct_agg, bitmap_count,
    bitmap_or_agg) — EXACT distinct counting as mergeable bitmap
    sketches: per (group, 32k-bucket) bitmaps OR-merge across any
    regrouping, so the distinct count is computed once and ROLLED UP
    without rescanning — the exact-count twin of the HLL
    re-aggregation row (r10). Both the direct count and the
    merge-then-count path must equal count(DISTINCT) exactly.

    Scale shape: bitmap_construct_agg is a partial-combinable
    aggregate whose state is a 4 KB bitmap per (group, bucket) —
    distinct counting with NO shuffle of raw ids beyond the bucketed
    partial, and downstream rollups reuse the bitmaps instead of the
    fact table. The production pattern for exact audience dedup at
    100 TB.

    Reference basis: SURVEY §2.4 A10 (count-distinct) completed with
    the mergeable-exact path."""
    _view(spark, sf_dir, "events")
    return spark.sql(
        """
        WITH per_bucket AS (
            SELECT event_type,
                   bitmap_bucket_number(user_id) AS bkt,
                   bitmap_construct_agg(bitmap_bit_position(user_id))
                       AS bm
            FROM events
            GROUP BY 1, 2
        ),
        direct AS (
            SELECT event_type,
                   CAST(sum(bitmap_count(bm)) AS BIGINT)
                       AS distinct_users
            FROM per_bucket GROUP BY 1
        ),
        remerged AS (
            -- OR-merge the same bitmaps again (idempotent) and
            -- re-count: the rollup-without-rescan property
            SELECT event_type,
                   CAST(sum(bitmap_count(bm2)) AS BIGINT)
                       AS distinct_users_reagg
            FROM (
                SELECT event_type, bkt, bitmap_or_agg(bm) AS bm2
                FROM per_bucket GROUP BY 1, 2
            ) GROUP BY 1
        )
        SELECT d.event_type, d.distinct_users, r.distinct_users_reagg
        FROM direct d JOIN remerged r USING (event_type)
        """
    )


# --------------------- WindowGroupLimit top-k pushdown --


@query(
    "window_group_limit_pushdown",
    oracle="""
    WITH ranked AS (
        SELECT event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               event_id,
               rank() OVER (
                   PARTITION BY event_type
                   ORDER BY floor(value * 100) DESC, event_id
               ) AS rnk
        FROM events
    )
    SELECT event_type, cents, CAST(event_id AS BIGINT) AS event_id,
           CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def window_group_limit_pushdown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-k per group via rank-filter, with the OPTIMIZER LEVER
    asserted: Spark 3.5's WindowGroupLimit physical rule pushes the
    `rank <= k` predicate INTO the shuffle — each map task pre-prunes
    to its local top-k per group before the exchange, so the window
    sort sees k·|groups| rows per partition instead of everything
    (the per-group twin of TakeOrderedAndProject). The plan assertion
    makes the optimization a graded contract, not luck; values graded
    against the definitional rank filter.

    Scale shape: without the rule, top-5-per-group shuffles the whole
    fact table into the window sort; with it, each of M map tasks
    ships ≤ 5·|groups| rows — the difference between O(rows) and
    O(M·k·groups) through the exchange at 100 TB.

    Reference basis: SURVEY §2.6 O-family (top-k machinery graded
    since r2; this pins the group-limit optimization)."""
    ev = load_table(spark, sf_dir, "events")
    ranked = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        "event_id",
    ).withColumn(
        "rnk",
        F.rank().over(
            Window.partitionBy("event_type").orderBy(
                F.desc("cents"), F.asc("event_id")
            )
        ),
    )
    out = ranked.where(F.col("rnk") <= 5).select(
        "event_type", "cents", "event_id", F.col("rnk").cast("int").alias("rnk")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, (
        "expected the WindowGroupLimit pushdown in the plan:\n" + plan
    )
    return out


# -------------------- RocksDB state store provider (scale path) --


@query(
    "streaming_rocksdb_state_store",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS message_count,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum
    FROM events GROUP BY 1, 2
    """,
)
def streaming_rocksdb_state_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The core windowed aggregation executed on the ROCKSDB state
    store provider — the 100 TB streaming lever: the default
    HDFS-backed provider keeps every key IN EXECUTOR MEMORY (state is
    bounded by heap), while RocksDB spills to local SSD with
    changelog/snapshot checkpointing, which is how week-long jobs with
    10⁸+ live keys actually run. Same plan, same results — graded
    value-for-value against the batch oracle — with the provider
    PROVEN engaged: the query progress must report rocksdb custom
    metrics (not just the conf echoed back). The conf is restored
    afterwards so the session's other streaming rows keep the default
    provider.

    Scale shape: identical logical/physical plan to
    streaming_window_agg; the provider swap changes the state
    BACKEND only — which is exactly the claim worth pinning: engine
    semantics are provider-invariant.

    Reference basis: SURVEY §2.9 T6/T7 state-management surface,
    upgraded to the production backend."""
    import uuid as _uuid

    from sparkksqldbbenchmark_spark.plans.streaming_queries import (
        _read_events_stream,
    )
    from sparkksqldbbenchmark_spark.streaming.pipeline import run_to_memory

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        ev = _read_events_stream(spark, sf_dir)
        agged = (
            ev.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("message_count"),
                F.sum(F.floor(F.col("value") * 100).cast("long"))
                .cast("long")
                .alias("cents_sum"),
            )
            .select(
                F.date_format("window.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"),
                "event_type",
                "message_count",
                "cents_sum",
            )
        )
        name = f"rocksdb_{_uuid.uuid4().hex[:8]}"
        q = run_to_memory(agged, name, output_mode="complete")
        progress = q.lastProgress
        q.stop()
        ops = (progress or {}).get("stateOperators") or []
        rocks_metrics = [
            m
            for op in ops
            for m in (op.get("customMetrics") or {})
            if m.startswith("rocksdb")
        ]
        assert rocks_metrics, (
            "RocksDB provider not engaged — no rocksdb custom metrics "
            f"in progress: {progress}"
        )
        return spark.table(name)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


# ----------------------- rolling 24h cross-correlation --


@query(
    "rolling_correlation_24h",
    oracle="""
    WITH hourly AS (
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS h,
               CAST(sum(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'view'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    framed AS (
        SELECT h, x, y,
               count(*) OVER w AS n,
               sum(x) OVER w AS sx,
               sum(y) OVER w AS sy,
               sum(x * x) OVER w AS sxx,
               sum(y * y) OVER w AS syy,
               sum(x * y) OVER w AS sxy
        FROM hourly
        WINDOW w AS (ORDER BY h
                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
           CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS BIGINT)
               AS var_prod,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST((n * sxx - sx * sx)
                                 * (n * syy - sy * sy) AS DOUBLE))
                ELSE CAST(0 AS DOUBLE) END AS rolling_corr
    FROM framed
    """,
)
def rolling_correlation_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-hour cross-correlation between two event streams
    (click vs view hourly counts) — the co-movement monitor behind
    anomaly detection (correlated streams decoupling = incident): all
    five sufficient sums accumulate over an exact-integer ROWS frame,
    the correlation is one IEEE division by a correctly-rounded sqrt
    of an exact integer product — bit-identical cross-engine, the
    ACF/OLS recipe applied to a SLIDING frame. Exact integer numerator
    and variance product ride along so the float is auditable.

    Scale shape: hourly pre-aggregation bounds the window input to
    |hours| rows (the multiway-ffill rule: aggregate to the bucket
    grain BEFORE any window); the frame itself is constant-size. At
    100 TB the hourly rollup is the only scan.

    Reference basis: SURVEY §2.4 A6 (correlation matrix, r3) extended
    to the windowed temporal form."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    w = Window.orderBy("h").rowsBetween(-23, Window.currentRow)
    n = F.count(F.lit(1)).over(w)
    sx = F.sum("x").over(w)
    sy = F.sum("y").over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    syy = F.sum(F.col("y") * F.col("y")).over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    cov = n * sxy - sx * sy
    varp = (n * sxx - sx * sx) * (n * syy - sy * sy)
    return hourly.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        n.cast("long").alias("n"),
        cov.cast("long").alias("cov_num"),
        varp.cast("long").alias("var_prod"),
        F.when(
            varp > 0,
            cov.cast("double") / F.sqrt(varp.cast("double")),
        )
        .otherwise(F.lit(0.0))
        .alias("rolling_corr"),
    )


# ------------------- clustered write: sorted-run layout lever --


@query(
    "clustered_write_sorted_runs",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           count(*) >= 0 AS runs_sorted
    FROM events GROUP BY 1
    """,
)
def clustered_write_sorted_runs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CLUSTERED-WRITE layout lever (repartition by key +
    sortWithinPartitions by time — the at-rest layout that makes
    as-of joins and per-key scans sequential): land events clustered
    by user and time-sorted within every file, read back, and PROVE
    the property from the data itself — within each (file, user) run
    the timestamps must be non-decreasing, checked as an exact
    bool_and over lag comparisons keyed by the _metadata file path.
    The graded aggregate must also match the source (no rows lost or
    duplicated by the rewrite). Completes the at-rest layout family:
    hive partitioning (r5), range/Z-order (r5/r6), bucketed join
    (r5) — this is the sorted-run member parquet readers exploit via
    min/max stats on ts.

    Scale shape: one repartition exchange + in-partition sort at
    write time, amortized over every later consumer; the verification
    read is a scan + one lag window partitioned by (file, user) —
    grain bounded by the layout itself.

    Reference basis: SURVEY §2.1 S-family sink/layout extension."""
    import tempfile

    d = tempfile.mkdtemp(prefix="clustered_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    (
        ev.repartition(8, "user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .write.mode("overwrite")
        .parquet(d)
    )
    back = spark.read.parquet(d).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "cents",
        F.col("_metadata.file_name").alias("fn"),
        F.col("_metadata.row_index").alias("ri"),
    )
    # walk each file in its PHYSICAL row order (_metadata.row_index —
    # ordering by ts here would make the check tautological): within
    # every (file, user) run the timestamps must be non-decreasing,
    # i.e. the sortWithinPartitions layout actually landed on disk
    runs = back.select(
        "event_type",
        "cents",
        (
            F.unix_micros("ts")
            >= F.coalesce(
                F.lag(F.unix_micros("ts")).over(
                    Window.partitionBy("fn", "user_id").orderBy("ri")
                ),
                F.lit(0),
            )
        ).alias("ok"),
    )
    return runs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("long").alias("cents_sum"),
        F.bool_and("ok").alias("runs_sorted"),
    )


# ------------------- golden-record survivorship merge --


def _survivorship_oracle() -> str:
    from sparkksqldbbenchmark_spark.plans.llm_queries import _cluster_oracle

    return f"""
    WITH labels AS (
        {_cluster_oracle()}
    ),
    member AS (
        SELECT l.component, d.doc_id, d.n_chars, d.source,
               row_number() OVER (
                   PARTITION BY l.component
                   ORDER BY d.n_chars DESC, d.doc_id
               ) AS rk
        FROM labels l JOIN documents d ON l.doc_id = d.doc_id
    )
    SELECT component,
           count(*) AS n_members,
           CAST(min(doc_id) AS BIGINT) AS survivor_id,
           CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
               AS longest_doc_id,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           array_to_string(list_sort(list_distinct(list(source))), '|')
               AS sources
    FROM member GROUP BY component
    """


@query("dedup_survivorship_merge", oracle=_survivorship_oracle())
def dedup_survivorship_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record SURVIVORSHIP over near-dup clusters — the MDM
    merge step downstream of dedup: per connected component of the
    minhash-LSH pair graph, field-wise survivors are chosen by
    explicit deterministic rules (canonical id = min member id;
    content = the LONGEST member's doc, ties to the lowest id;
    provenance = sorted distinct sources, pipe-joined at the boundary)
    plus the audit sums a merge report carries. Reuses the graded
    connected-components machinery (dedup_clusters r4,
    llm/cluster.py); the oracle replays the same fixpoint with a
    recursive CTE and ranks the longest member with a window.

    Scale shape: CC label propagation is the bounded-iteration
    join+agg already proven at scale; the survivorship pass is ONE
    aggregate over (component) — field rules are min_by/max_by
    partial-combinable state, never a per-cluster collect. The
    sources list is bounded by |distinct sources| (7), not members.

    Reference basis: LLM-pipeline extension (dedup family completion:
    detect → cluster → keep-best score (r5) → field-wise MERGE now)."""
    from sparkksqldbbenchmark_spark.llm import dedup
    from sparkksqldbbenchmark_spark.llm.cluster import (
        connected_components_min_label,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id")
    labels = connected_components_min_label(
        docs.select(F.col("doc_id").alias("id")),
        pairs,
        src_col="doc_a",
        dst_col="doc_b",
    )
    member = labels.join(
        docs.select("doc_id", "n_chars", "source"),
        labels["id"] == F.col("doc_id"),
    )
    # longest member, ties to lowest id: order struct (−n_chars, id)
    pick = F.struct((-F.col("n_chars")).alias("neg"), F.col("doc_id"))
    return member.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("doc_id").cast("long").alias("survivor_id"),
        F.expr(
            "min_by(doc_id, struct(-n_chars, doc_id))"
        )
        .cast("long")
        .alias("longest_doc_id"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.array_join(
            F.array_sort(F.collect_set("source")), "|"
        ).alias("sources"),
    )
