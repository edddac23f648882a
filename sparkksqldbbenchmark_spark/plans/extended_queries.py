"""Extended coverage queries: the remaining SURVEY.md §2 operators not yet
exercised by reference_queries (P6/P8/P9 projections and flags, A7 group
sums, F9-F12 datetime parsing variants, W2 row_number latest) plus two
more TPC-H shapes (Q5 join chain, Q6 selective scan) that stress join
ordering and pushdown at scale."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from sparkksqldbbenchmark_spark.catalog import load_table
from sparkksqldbbenchmark_spark.functions.stable import (
    sql_stable_avg,
    sql_stable_sum,
    stable_avg,
    stable_sum,
)
from sparkksqldbbenchmark_spark.plans.registry import query


@query(
    "group_by_sum_consumption",
    oracle=f"""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           o_orderpriority,
           {sql_stable_sum("o_totalprice", 2)} AS total_price,
           count(*) AS order_count
    FROM orders GROUP BY 1, 2
    """,
)
def group_by_sum_consumption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — the consumption group-by-sum (price_prediction.ipynb cell 8
    `groupby([TimeUTC, Area]).sum()`): month × priority → Σ price."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        ),
        "o_orderpriority",
    ).agg(
        stable_sum("o_totalprice", 2).alias("total_price"),
        F.count(F.lit(1)).alias("order_count"),
    )


@query(
    "numeric_projection_summary",
    oracle=f"""
    SELECT {sql_stable_avg("l_quantity")} AS avg_l_quantity,
           {sql_stable_avg("l_extendedprice")} AS avg_l_extendedprice,
           {sql_stable_avg("l_discount")} AS avg_l_discount,
           {sql_stable_avg("l_tax")} AS avg_l_tax
    FROM lineitem
    """,
)
def numeric_projection_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — select_dtypes(include='number') (notebook cell 14): numeric
    columns discovered FROM THE SCHEMA (not hard-coded), then averaged.
    Restricted to the double measures (ids are numeric but meaningless to
    average)."""
    li = load_table(spark, sf_dir, "lineitem")
    numeric = [
        f.name
        for f in li.schema.fields
        if isinstance(f.dataType, NumericType) and f.name.startswith("l_")
        and f.name not in ("l_orderkey", "l_partkey", "l_suppkey",
                           "l_linenumber")
    ]
    return li.agg(
        *[stable_avg(c).alias(f"avg_{c}") for c in numeric]
    )


@query(
    "flag_derivation_dropna",
    oracle="""
    SELECT p_partkey,
           p_type LIKE '%BRASS%' AS is_brass,
           p_brand IN ('Brand#1', 'Brand#2') AS is_major_brand,
           CASE WHEN p_size >= 25 THEN 'large' ELSE 'small' END AS size_class
    FROM part
    WHERE p_type IS NOT NULL AND p_brand IS NOT NULL
    """,
)
def flag_derivation_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 + P9 — boolean flag derivation (measures_X = param in set,
    dmi/scripts/wind.py:234-238) and dropna on key columns
    (dmi/scripts/map.py:76-80)."""
    part = load_table(spark, sf_dir, "part")
    return part.na.drop(subset=["p_type", "p_brand"]).select(
        "p_partkey",
        F.col("p_type").contains("BRASS").alias("is_brass"),
        F.col("p_brand").isin("Brand#1", "Brand#2").alias("is_major_brand"),
        F.when(F.col("p_size") >= 25, "large").otherwise("small").alias(
            "size_class"
        ),
    )


@query(
    "datetime_parse_suite",
    oracle="""
    WITH t AS (
        SELECT o_orderkey,
               strftime(o_orderdate, '%d/%m/%Y %H:%M:%S') AS eu_str,
               strftime(o_orderdate, '%Y-%m-%d') AS d_str,
               strftime(o_orderdate, '%H:%M') AS tm_str
        FROM orders
    )
    SELECT o_orderkey,
           strftime(strptime(eu_str, '%d/%m/%Y %H:%M:%S'),
                    '%Y-%m-%d %H:%M:%S') AS parsed_eu,
           strftime(strptime(eu_str, '%d/%m/%Y %H:%M:%S'),
                    '%Y-%m-%dT%H:%M:%SZ') AS iso_z,
           strftime(strptime(d_str || ' ' || tm_str, '%Y-%m-%d %H:%M'),
                    '%Y-%m-%d %H:%M:%S') AS parsed_concat,
           split_part(eu_str, ' ', 1) AS date_part_str
    FROM t
    """,
)
def datetime_parse_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9-F12 — the notebook's datetime normalizations: explicit-format
    parse dd/MM/yyyy HH:mm:ss (F10, cell 6), ISO + strftime-to-Z (F11,
    cell 8), concat date+time then parse yyyy-MM-dd HH:mm (F12, cells
    10/12), string split + element pick (F9). Round-tripped through
    strings built from o_orderdate so the oracle sees identical inputs."""
    orders = load_table(spark, sf_dir, "orders")
    t = orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "dd/MM/yyyy HH:mm:ss").alias("eu_str"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d_str"),
        F.date_format("o_orderdate", "HH:mm").alias("tm_str"),
    )
    return t.select(
        "o_orderkey",
        F.date_format(
            F.to_timestamp("eu_str", "dd/MM/yyyy HH:mm:ss"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("parsed_eu"),
        F.date_format(
            F.to_timestamp("eu_str", "dd/MM/yyyy HH:mm:ss"),
            "yyyy-MM-dd'T'HH:mm:ss'Z'",
        ).alias("iso_z"),
        F.date_format(
            F.to_timestamp(
                F.concat_ws(" ", "d_str", "tm_str"), "yyyy-MM-dd HH:mm"
            ),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("parsed_concat"),
        F.element_at(F.split("eu_str", " "), 1).alias("date_part_str"),
    )


@query(
    "latest_by_rownumber",
    oracle="""
    SELECT user_id, event_id, value
    FROM (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def latest_by_rownumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — the row_number formulation of latest-per-key (the alternative
    to max_by listed in SURVEY §2.5; also the keep-latest dedup shape)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )


@query(
    "price_prediction_pipeline",
    oracle=f"""
    WITH click AS (
        SELECT time_bucket(INTERVAL 1 DAY, ts) AS datetime,
               {sql_stable_avg("value")} AS click_value
        FROM events WHERE event_type = 'click' GROUP BY 1
    ), purchase AS (
        SELECT time_bucket(INTERVAL 1 DAY, ts) AS datetime,
               {sql_stable_avg("value")} AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), orders_daily AS (
        SELECT time_bucket(INTERVAL 1 DAY,
                   strptime(strftime(o_orderdate, '%d/%m/%Y %H:%M:%S'),
                            '%d/%m/%Y %H:%M:%S')) AS datetime,
               {sql_stable_sum("o_totalprice", 2)} AS order_value
        FROM orders
        GROUP BY 1
    ), merged AS (
        SELECT coalesce(c.datetime, p.datetime, o.datetime) AS datetime,
               click_value, purchase_value, order_value
        FROM click c
        FULL OUTER JOIN purchase p ON c.datetime = p.datetime
        FULL OUTER JOIN orders_daily o
            ON coalesce(c.datetime, p.datetime) = o.datetime
    ), filled AS (
        SELECT datetime,
               last_value(click_value IGNORE NULLS) OVER
                   (ORDER BY datetime ROWS UNBOUNDED PRECEDING) AS click_value,
               last_value(purchase_value IGNORE NULLS) OVER
                   (ORDER BY datetime ROWS UNBOUNDED PRECEDING)
                   AS purchase_value,
               last_value(order_value IGNORE NULLS) OVER
                   (ORDER BY datetime ROWS UNBOUNDED PRECEDING) AS order_value
        FROM merged
    )
    SELECT round(corr(click_value, purchase_value), 4)
               AS corr_click_purchase,
           round(corr(click_value, order_value), 4) AS corr_click_order,
           round(corr(purchase_value, order_value), 4)
               AS corr_purchase_order,
           count(*) AS timeline_rows
    FROM filled
    """,
)
def price_prediction_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The notebook's whole analysis (price_prediction.ipynb cells 3-14,
    SURVEY §3 entry point 4) as ONE lazy plan: per-series datetime
    normalization (incl. an explicit-format parse round-trip, F10), daily
    aggregation, multi-way full-outer time join (J1), forward-fill (W1),
    correlation matrix (A6). One action at the end — the eager per-cell
    pandas flow becomes a single Catalyst-optimized DAG."""
    from sparkksqldbbenchmark_spark.operators.joins import (
        forward_fill,
        multiway_outer_time_join,
    )

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")

    def series(event_type: str) -> DataFrame:
        return (
            events.where(F.col("event_type") == event_type)
            .groupBy(F.window("ts", "1 day"))
            .agg(stable_avg("value").alias(f"{event_type}_value"))
            .select(
                F.col("window.start").alias("datetime"),
                f"{event_type}_value",
            )
        )

    # orders series goes through the notebook's parse path: format to
    # dd/MM/yyyy string, parse back with the explicit format (F10)
    orders_daily = (
        orders.withColumn(
            "parsed",
            F.to_timestamp(
                F.date_format("o_orderdate", "dd/MM/yyyy HH:mm:ss"),
                "dd/MM/yyyy HH:mm:ss",
            ),
        )
        .groupBy(F.window("parsed", "1 day"))
        .agg(stable_sum("o_totalprice", 2).alias("order_value"))
        .select(F.col("window.start").alias("datetime"), "order_value")
    )

    merged = multiway_outer_time_join(
        [series("click"), series("purchase"), orders_daily], "datetime"
    )
    filled = forward_fill(
        merged, "datetime", ["click_value", "purchase_value", "order_value"]
    )
    return filled.agg(
        F.round(F.corr("click_value", "purchase_value"), 4).alias(
            "corr_click_purchase"
        ),
        F.round(F.corr("click_value", "order_value"), 4).alias(
            "corr_click_order"
        ),
        F.round(F.corr("purchase_value", "order_value"), 4).alias(
            "corr_purchase_order"
        ),
        F.count(F.lit(1)).alias("timeline_rows"),
    )


@query(
    "dirty_data_parsing",
    oracle="""
    WITH dirty AS (
        SELECT event_id,
               CASE WHEN event_id % 7 = 0 THEN 'not-a-timestamp'
                    ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS ts_str
        FROM events
    )
    SELECT count(*) AS total_rows,
           count(try_strptime(ts_str, '%Y-%m-%d %H:%M:%S')) AS parsed_rows,
           count(*) - count(try_strptime(ts_str, '%Y-%m-%d %H:%M:%S'))
               AS failed_rows
    FROM dirty
    """,
)
def dirty_data_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 — errors='coerce' parsing (price_prediction.ipynb cell 3):
    malformed timestamps become NULL, never exceptions. Deterministic
    dirt: every 7th row's string is corrupted."""
    events = load_table(spark, sf_dir, "events")
    dirty = events.select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, "not-a-timestamp")
        .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .alias("ts_str"),
    )
    parsed = dirty.withColumn(
        "parsed_ts", F.try_to_timestamp("ts_str", F.lit("yyyy-MM-dd HH:mm:ss"))
    )
    return parsed.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count("parsed_ts").alias("parsed_rows"),
        (F.count(F.lit(1)) - F.count("parsed_ts")).alias("failed_rows"),
    )


@query(
    "approx_count_distinct",
    oracle="""
    SELECT count(DISTINCT user_id) AS exact_stations,
           true AS approx_within_5pct
    FROM events
    """,
)
def approx_count_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 scale path — approx_count_distinct (HyperLogLog++, mergeable,
    no exact-distinct shuffle). The raw sketch estimate is engine-
    specific, so the graded contract is the part both engines agree on:
    the exact cardinality, plus the verifiable claim that the HLL
    estimate (rsd=0.01) landed within 5% of it — deterministic because
    Spark's HLL is hash-based, not randomized, for a fixed input."""
    events = load_table(spark, sf_dir, "events")
    return events.agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_stations"),
        F.countDistinct("user_id").alias("exact_stations"),
    ).select(
        "exact_stations",
        (
            F.abs(F.col("approx_stations") - F.col("exact_stations"))
            <= 0.05 * F.col("exact_stations")
        ).alias("approx_within_5pct"),
    )


@query(
    "session_window_agg",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 12 HOUR
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), islands AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 12 HOUR,
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS event_count
    FROM islands GROUP BY user_id, sess_id
    """,
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows via the built-in F.session_window (gap timeout) —
    the idiomatic engine path; the custom-state applyInPandasWithState
    variant lives in streaming/stateful.py. Oracle = the classic
    gaps-and-islands formulation: identical sessions, start = first event,
    end = last event + gap."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "12 hours"))
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "event_count",
        )
    )


@query(
    "tpch_q6_selective_scan",
    oracle=f"""
    SELECT {sql_stable_sum("l_extendedprice * l_discount", 2)} AS revenue,
           count(*) AS matched_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24
    """,
)
def tpch_q6_selective_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — the pushdown benchmark: every predicate reaches
    the parquet reader (PushedFilters), no join, single partial+final
    aggregate. The fastest possible plan for a selective scan."""
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.05)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        stable_sum(F.col("l_extendedprice") * F.col("l_discount"), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("matched_rows"),
    )


@query(
    "tpch_q5_join_chain",
    oracle=f"""
    SELECT n.n_name AS nation_name,
           {sql_stable_sum("l.l_extendedprice * (1 - l.l_discount)", 2)}
               AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def tpch_q5_join_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the deep join chain: region/nation/customer
    broadcast down onto orders, the only big⋈big join (orders⋈lineitem)
    shuffles on the order key, aggregation on the tiny nation domain."""
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    dims = c.join(
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    orders_dim = o.join(F.broadcast(dims), o.o_custkey == F.col("c_custkey"))
    joined = li.join(orders_dim, li.l_orderkey == F.col("o_orderkey"))
    return joined.groupBy(F.col("n_name").alias("nation_name")).agg(
        stable_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
        ).alias("revenue")
    )


@query(
    "asof_join_latest_view",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ), views AS (
        SELECT user_id, ts, max(value) AS view_value
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    )
    SELECT c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           c.event_id,
           v.view_value
    FROM clicks c ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def asof_join_latest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/joins.asof_join — union-tag + last-carry,
    one shuffle, no inequality join): every click event enriched with the
    user's latest at-or-before view value. Oracle is DuckDB's native
    ASOF LEFT JOIN; the view side is pre-aggregated unique per
    (user_id, ts) so both engines pick the same match. view_value is a
    selected (not computed) double — exact cross-engine."""
    from sparkksqldbbenchmark_spark.operators.joins import asof_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    views = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    out = asof_join(clicks, views, ["user_id"], "ts", ["view_value"])
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "event_id",
        "view_value",
    )


@query(
    "range_join_shipment_windows",
    oracle="""
    SELECT o.o_orderkey,
           count(*) AS shipments,
           count(DISTINCT l.l_orderkey) AS distinct_orders
    FROM (
        SELECT o_orderkey, o_orderdate,
               o_orderdate + INTERVAL 7 DAY AS window_end
        FROM orders WHERE o_orderkey < 64
    ) o
    JOIN lineitem l
      ON l.l_shipdate >= o.o_orderdate AND l.l_shipdate < o.window_end
    GROUP BY o.o_orderkey
    """,
)
def range_join_shipment_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join (operators/joins.range_join_points_intervals):
    lineitem shipments falling inside each order's first week, with NO
    key equality — the naive plan is a cartesian/BNL; the operator
    rewrites it as bucket-explode + equi-join + exact range filter. The
    oracle runs the plain inequality join (DuckDB plans its own IEJoin),
    so the bucketed rewrite is checked against the exact semantics."""
    from sparkksqldbbenchmark_spark.operators.joins import (
        range_join_points_intervals,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 64)
        .select(
            "o_orderkey",
            "o_orderdate",
            (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias(
                "window_end"
            ),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    pairs = range_join_points_intervals(
        li, orders, "l_shipdate", "o_orderdate", "window_end"
    )
    return pairs.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("shipments"),
        F.countDistinct("l_orderkey").alias("distinct_orders"),
    )


@query(
    "time_rollup_hierarchy",
    oracle=f"""
    SELECT '1h' AS level,
           strftime(time_bucket(INTERVAL 1 HOUR, ts),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS message_count,
           {sql_stable_avg("value")} AS avg_value
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT '1d' AS level,
           strftime(time_bucket(INTERVAL 1 DAY, ts),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS message_count,
           {sql_stable_avg("value")} AS avg_value
    FROM events GROUP BY 2, 3
    """,
)
def time_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup
    (operators/rollup.time_rollup): hourly aggregate computed from the
    data ONCE, daily level re-aggregated from the hourly aggregate's
    decomposable state (count + exact decimal sum). The oracle
    aggregates the raw rows at both resolutions directly — the
    re-aggregated path must match it bit for bit, which is exactly what
    the order-independent decimal sums guarantee."""
    from sparkksqldbbenchmark_spark.operators.rollup import time_rollup

    events = load_table(spark, sf_dir, "events")
    return time_rollup(events, "ts", "value", ["event_type"])


@query(
    "kmv_distinct_sketch",
    oracle="""
    WITH h AS (
        SELECT DISTINCT
               ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                   AS hv
        FROM events
    ), k AS (SELECT hv FROM h ORDER BY hv LIMIT 64)
    SELECT count(*) AS sample_k,
           max(hv) AS kth_hash,
           CAST(63 AS DOUBLE) * power(2.0, 60) / CAST(max(hv) AS DOUBLE)
               AS est_distinct
    FROM k
    """,
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (operators/sketch.kmv_distinct_estimate)
    over events.user_id — the deterministic, oracle-replayable
    alternative to HLL (approx_count_distinct stays rows-only by
    nature). Both engines hash with the shared md5-prefix integer and
    compute (k-1)/U_k from the k smallest distinct hashes."""
    from sparkksqldbbenchmark_spark.operators.sketch import (
        kmv_distinct_estimate,
    )

    events = load_table(spark, sf_dir, "events")
    return kmv_distinct_estimate(events, "user_id", k=64)


@query(
    "window_function_suite",
    oracle="""
    SELECT event_id, user_id,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           value - lag(value) OVER w AS value_delta,
           (value + coalesce(lag(value) OVER w, 0)
                  + coalesce(lag(value, 2) OVER w, 0))
           / (1 + CASE WHEN lag(value) OVER w IS NULL THEN 0 ELSE 1 END
                + CASE WHEN lag(value, 2) OVER w IS NULL THEN 0 ELSE 1 END)
               AS moving_avg_3,
           CAST(row_number() OVER w AS BIGINT) AS seq
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity ordered analytics: lag/lead neighbors, step delta, 3-row
    trailing moving average, and sequence numbers over (user, time). ONE
    shuffle on user_id serves every window expression (same partitioning,
    same sort — Spark plans a single Window operator). The moving average
    is built from lag() terms with a fixed left-to-right addition order
    rather than avg() over a rows-frame: engines disagree on frame-
    aggregation order (segment trees vs running sums) at the last ulp,
    while the explicit form is IEEE-identical everywhere. Ties in ts are
    broken by event_id so the order — and therefore lag/lead — is total
    and deterministic."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag1 = F.lag("value").over(w)
    lag2 = F.lag("value", 2).over(w)
    n_terms = (
        F.lit(1)
        + F.when(lag1.isNull(), 0).otherwise(1)
        + F.when(lag2.isNull(), 0).otherwise(1)
    )
    return ev.select(
        "event_id",
        "user_id",
        lag1.alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - lag1).alias("value_delta"),
        (
            (F.col("value") + F.coalesce(lag1, F.lit(0.0)) + F.coalesce(lag2, F.lit(0.0)))
            / n_terms
        ).alias("moving_avg_3"),
        F.row_number().over(w).cast("long").alias("seq"),
    )


@query(
    "cube_rollup_report",
    oracle=f"""
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(CAST(hour(ts) AS BIGINT), -1) AS hour_of_day,
           count(*) AS message_count,
           {sql_stable_sum("value", 2)} AS total_value
    FROM events
    GROUP BY CUBE (event_type, CAST(hour(ts) AS BIGINT))
    """,
)
def cube_rollup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP CUBE over (event type × hour of day): every subtotal
    combination — per cell, per type, per hour, grand total — in ONE
    aggregation pass. Spark expands grouping sets inside a single
    Expand + HashAggregate (partial map-side combine still applies), so
    the cube costs one shuffle, not four separate aggregations. NULL
    group markers are labeled ('ALL' / -1) identically in both engines
    so the driver compare is unambiguous. Sums use the exact-decimal
    stable form (order- and engine-independent)."""
    ev = load_table(spark, sf_dir, "events")
    hod = F.hour("ts").cast("long")
    return (
        ev.cube(F.col("event_type"), hod.alias("hour_of_day"))
        .agg(
            F.count(F.lit(1)).alias("message_count"),
            stable_sum("value", 2).alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("hour_of_day", F.lit(-1)).alias("hour_of_day"),
            "message_count",
            "total_value",
        )
    )


@query(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
           {sql_stable_sum("l.l_extendedprice * (1 - l.l_discount)", 2)}
               AS revenue
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 3, 4
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item revenue ranking: who returned the
    most value. Dimension joins (nation, customer) broadcast; the one
    big⋈big join (orders⋈lineitem) shuffles on the order key; top-20
    compiles to TakeOrderedAndProject (no global sort materialization).
    Tie-break on c_custkey makes the LIMIT cut deterministic across
    engines."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    cust = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    orders_dim = o.join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
    joined = li.join(orders_dim, li.l_orderkey == F.col("o_orderkey"))
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            stable_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "skewed_agg_salted",
    oracle=f"""
    SELECT event_type,
           {sql_stable_sum("value", 2)} AS sum_value,
           count(*) AS row_count,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def skewed_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted two-phase aggregation (operators/skew.salted_sum_count)
    proven EQUIVALENT to the plain group-by: phase 1 spreads each hot
    key over 16 salt buckets, phase 2 merges partials — same answer,
    bounded per-reducer load. The oracle is the plain aggregate, so this
    row certifies the skew path's algebra (exact decimal partials make
    the two-step sum identical to the one-step)."""
    from sparkksqldbbenchmark_spark.operators.skew import salted_sum_count

    ev = load_table(spark, sf_dir, "events")
    return salted_sum_count(
        ev, keys=("event_type",), value_col="value", salt_col="event_id"
    )


@query(
    "skewed_join_replicated",
    oracle=f"""
    WITH dim AS (
        SELECT DISTINCT event_type,
               upper(substring(event_type, 1, 1)) AS category
        FROM events
    )
    SELECT d.category,
           count(*) AS message_count,
           {sql_stable_sum("e.value", 2)} AS total_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY d.category
    """,
)
def skewed_join_replicated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The replicated (salted) skew join (operators/skew.
    replicated_skew_join) proven equivalent to the plain equi-join: the
    big side salts deterministically, the dim side replicates 16×, the
    join keys on (key, salt) so a hot key's probe rows spread over 16
    tasks. Oracle = the plain join + aggregate; identical output
    certifies the replication algebra. Use broadcast() when the dim
    fits — this is the fallback shape between broadcast and AQE."""
    from sparkksqldbbenchmark_spark.operators.skew import (
        replicated_skew_join,
    )

    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "category", F.upper(F.substring("event_type", 1, 1))
        )
    )
    joined = replicated_skew_join(
        ev, dim, key="event_type", salt_col="event_id"
    )
    return joined.groupBy("category").agg(
        F.count(F.lit(1)).alias("message_count"),
        stable_sum("value", 2).alias("total_value"),
    )


@query(
    "tpch_q4_semijoin_priority",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def tpch_q4_semijoin_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — order-priority checking via EXISTS, the LEFT SEMI
    join form (TESTDATA carries no commit/receipt dates, so the predicate
    is 'some lineitem shipped after the order date'). Semi joins are the
    right 100 TB shape for EXISTS: the probe side streams, each order
    emits at most once regardless of matching lineitem multiplicity, and
    no lineitem columns survive the join (narrowest possible shuffle).
    One big⋈big shuffle on the order key, then a tiny priority rollup."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    matched = o.join(
        l,
        (o["o_orderkey"] == l["l_orderkey"])
        & (l["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return (
        matched.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "tpch_q22_antijoin_segments",
    oracle=f"""
    SELECT c.c_mktsegment,
           count(*) AS idle_customers,
           {sql_stable_sum("c.c_acctbal", 2)} AS total_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def tpch_q22_antijoin_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — customers with no urgent orders, per market
    segment, via NOT EXISTS → LEFT ANTI join. The anti probe carries one
    column (the filtered order custkeys — the priority filter pushes to
    the orders scan before the shuffle) and emits each customer at most
    once; the acctbal sum goes through the decimal-partial stable sum so
    the oracle comparison is order-independent. ('No orders at all' is
    degenerate on TESTDATA — every customer has orders — so the filtered
    form keeps the graded result non-trivial: ~13% of customers.)"""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT")
    idle = c.join(urgent, c["c_custkey"] == urgent["o_custkey"], "left_anti")
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("idle_customers"),
            stable_sum("c_acctbal", 2).alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           {sql_stable_sum("l.l_extendedprice * (1 - l.l_discount)", 2)}
               AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — bilateral trade volume: revenue between two nation
    pairs per ship year. The scale-relevant feature is the DOUBLE dimension
    role: nation joins twice under different roles (supplier's vs
    customer's), so the plan must keep both broadcast — supplier+nation
    broadcasts onto lineitem, customer+nation broadcasts onto orders, and
    the single big⋈big shuffle is lineitem⋈orders on the order key. The
    nation-pair disjunction is applied AFTER both enrichments (it
    references both sides) but before the aggregate, so only pair-matching
    rows reach the hash agg. Year extraction stays in codegen."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = ("NATION_1", "NATION_2")

    supp_dim = s.join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    ).select(F.col("s_suppkey"), F.col("n_name").alias("supp_nation"))
    cust_dim = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).select(F.col("c_custkey"), F.col("n_name").alias("cust_nation"))
    # pre-filter each enriched side to the two nations involved so the
    # big⋈big shuffle carries only candidate rows
    supp_dim = supp_dim.where(F.col("supp_nation").isin(*pair))
    cust_dim = cust_dim.where(F.col("cust_nation").isin(*pair))

    li_s = li.join(F.broadcast(supp_dim), li.l_suppkey == supp_dim.s_suppkey)
    o_c = o.join(F.broadcast(cust_dim), o.o_custkey == cust_dim.c_custkey)
    joined = li_s.join(o_c, li_s.l_orderkey == o_c.o_orderkey).where(
        ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
        | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            stable_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


@query(
    "tpch_q14_promo_revenue",
    oracle=f"""
    SELECT {sql_stable_sum(
        "CASE WHEN p.p_type = 'PROMO' "
        "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END", 2)}
               AS promo_revenue,
           {sql_stable_sum("l.l_extendedprice * (1 - l.l_discount)", 2)}
               AS total_revenue,
           count(*) AS matched_rows
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promotion-revenue share: conditional aggregation
    over a fact⋈dim join. The month filter pushes to the lineitem scan
    (PushedFilters), part broadcasts, and the CASE folds into the partial
    aggregate — one broadcast join, zero wide shuffles (the final agg is a
    single-group reduce of per-partition partials). The promo/total pair
    is emitted as exact-decimal sums rather than the spec's percentage:
    a cross-engine double division on .xx5 boundaries is the one unstable
    step (functions/stable.py), and the share is a sink-side presentation
    detail."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.agg(
        stable_sum(
            F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)), 2
        ).alias("promo_revenue"),
        stable_sum(rev, 2).alias("total_revenue"),
        F.count(F.lit(1)).alias("matched_rows"),
    )


@query(
    "tpch_q18_large_orders",
    oracle=f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_totalprice,
           {sql_stable_sum("l.l_quantity", 2)} AS total_quantity
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING {sql_stable_sum("l_quantity", 2)} > 280
    )
    GROUP BY 1, 2, 3, 4, 5
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — large-volume orders: IN over a grouped-HAVING
    subquery, the aggregate-then-semi-join pattern. The qualifying-key set
    is produced by a partial+final hash agg on the order key and then used
    as the BUILD side of a semi join back onto the same aggregation — at
    any scale the qualifier output is a tiny fraction of orders (here
    sum(qty) > 280 ≈ top 0.5% of orders), so the driver-visible work after
    qualification is small. Spark shape: aggregate lineitem once, filter
    the HAVING in the same stage, inner-join the tiny qualifier set back
    (broadcast — it IS the semantic semi join), then broadcast-enrich with
    customer. Top-100 compiles to TakeOrderedAndProject. Tie-break on
    o_orderkey pins the LIMIT cut."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")

    per_order = li.groupBy("l_orderkey").agg(
        stable_sum("l_quantity", 2).alias("total_quantity")
    )
    qualifying = per_order.where(F.col("total_quantity") > 280)
    big = o.join(
        F.broadcast(qualifying), o.o_orderkey == qualifying.l_orderkey
    )
    enriched = big.join(F.broadcast(c), big.o_custkey == c.c_custkey)
    return (
        enriched.select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            "total_quantity",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "tpch_q19_disjunctive_predicates",
    oracle=f"""
    SELECT {sql_stable_sum("l.l_extendedprice * (1 - l.l_discount)", 2)}
               AS revenue,
           count(*) AS matched_rows
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive_predicates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q19 shape — OR-of-ANDs across both join sides, the predicate
    the optimizer must NOT evaluate as a cross-product filter. Each
    disjunct constrains part attributes AND lineitem attributes; Catalyst
    derives the single-side implied filters (brand ∈ {...} on the part
    scan, quantity ∈ [1,30] on the lineitem scan — visible as
    PushedFilters), broadcasts the filtered part side, and evaluates the
    residual disjunction inside the join's codegen stage. No shuffle at
    all: broadcast join + single-group partial/final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    d1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    d2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    )
    d3 = (
        (F.col("p_brand") == "Brand#5")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return joined.where(d1 | d2 | d3).agg(
        stable_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("matched_rows"),
    )


@query(
    "pivot_hourly_by_type",
    oracle=f"""
    SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day,
           {sql_stable_sum("CASE WHEN event_type = 'click' THEN value END", 2)} AS click,
           {sql_stable_sum("CASE WHEN event_type = 'error' THEN value END", 2)} AS error,
           {sql_stable_sum("CASE WHEN event_type = 'purchase' THEN value END", 2)} AS purchase,
           {sql_stable_sum("CASE WHEN event_type = 'signup' THEN value END", 2)} AS signup,
           {sql_stable_sum("CASE WHEN event_type = 'view' THEN value END", 2)} AS view
    FROM events
    GROUP BY 1
    """,
)
def pivot_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT — hour-of-day × event-type value matrix, the long→wide
    reshape every reporting layer wants. The value list is EXPLICIT
    (pivot(col, values)): with it, Catalyst compiles the pivot into ONE
    partial+final hash aggregate whose buffer holds all five sums — same
    shuffle cost as the plain group-by; without it, Spark must first run
    a distinct scan to discover columns. The oracle is the equivalent
    conditional aggregation — which is also exactly how the pivot
    executes (PivotFirst/case folding), so the parity claim is
    plan-level, not coincidence."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy(F.hour("ts").cast("long").alias("hour_of_day"))
        .pivot("event_type", types)
        .agg(stable_sum("value", 2))
    )


@query(
    "unpivot_measure_summary",
    oracle=f"""
    SELECT measure,
           {sql_stable_sum("val", 4)} AS total,
           count(*) AS n_rows,
           min(val) AS min_val,
           max(val) AS max_val
    FROM (
        SELECT 'l_discount' AS measure, l_discount AS val FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT 'l_quantity', l_quantity FROM lineitem
        UNION ALL
        SELECT 'l_tax', l_tax FROM lineitem
    )
    GROUP BY measure
    """,
)
def unpivot_measure_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt — wide→long over the four lineitem measures, then a
    per-measure profile (sum/count/min/max). DataFrame.unpivot compiles
    to Expand (each input row emits 4 slim rows inside codegen — no
    self-union, ONE scan of the table where the naive UNION ALL form
    scans it four times); the aggregate is the usual partial+final pair
    over a 4-key domain. 4-dp stable sum because l_discount/l_tax carry
    more fractional digits than prices."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        [],
        ["l_discount", "l_extendedprice", "l_quantity", "l_tax"],
        "measure",
        "val",
    )
    return long.groupBy("measure").agg(
        stable_sum("val", 4).alias("total"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


@query(
    "correlated_above_avg_orders",
    oracle=f"""
    SELECT count(*) AS big_orders,
           {sql_stable_sum("o_totalprice", 2)} AS big_order_value
    FROM orders o
    WHERE o_totalprice > 1.2 * (
        SELECT {sql_stable_avg("o2.o_totalprice")}
        FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    """,
)
def correlated_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — orders priced >1.2× their own
    customer's average (the TPC-H Q17 family). The scale shape is
    DECORRELATION: never execute the subquery per row; compute the
    per-customer average ONCE as an aggregate keyed on the correlation
    key and join it back. Both the aggregate and the join shuffle on
    o_custkey, so AQE/exchange-reuse co-locates them (one logical
    repartition of orders). The average uses the stable decimal-sum /
    count form on BOTH sides, making the >1.2× cut identical IEEE
    arithmetic cross-engine. DuckDB plans the same decorrelation from
    the correlated SQL — the oracle states the semantics, the DataFrame
    states the plan."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("k")).agg(
        stable_avg("o_totalprice").alias("cust_avg")
    )
    joined = o.join(per_cust, o.o_custkey == per_cust.k)
    big = joined.where(F.col("o_totalprice") > 1.2 * F.col("cust_avg"))
    return big.agg(
        F.count(F.lit(1)).alias("big_orders"),
        stable_sum("o_totalprice", 2).alias("big_order_value"),
    )


@query(
    "approx_quantiles_bounded",
    oracle="""
    SELECT CAST(quantile_cont(value, 0.5) AS DOUBLE) AS exact_p50,
           CAST(quantile_cont(value, 0.95) AS DOUBLE) AS exact_p95,
           true AS p50_within_1pct,
           true AS p95_within_1pct
    FROM events
    """,
)
def approx_quantiles_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles with a verifiable contract (the
    approx_count_distinct pattern): the graded row carries the EXACT
    interpolated percentiles plus the claim that approx_percentile
    (accuracy 10000) landed within 1% of them. The sketch itself is
    engine-specific (Greenwald-Khanna here, different in DuckDB) but
    deterministic for a fixed input, so the bound is a real, repeatable
    assertion — and the 100 TB story is the sketch's: mergeable partials,
    one tiny final merge, no global sort. Exact percentiles use
    `percentile` (exact interpolated median) only to certify the bound;
    at scale you'd drop them and keep the sketch."""
    ev = load_table(spark, sf_dir, "events")
    agged = ev.agg(
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
        F.expr("percentile(value, 0.95)").alias("exact_p95"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("ap50"),
        F.expr("approx_percentile(value, 0.95, 10000)").alias("ap95"),
    )
    tol = 0.01
    return agged.select(
        "exact_p50",
        "exact_p95",
        (
            F.abs(F.col("ap50") - F.col("exact_p50"))
            <= tol * F.abs(F.col("exact_p50"))
        ).alias("p50_within_1pct"),
        (
            F.abs(F.col("ap95") - F.col("exact_p95"))
            <= tol * F.abs(F.col("exact_p95"))
        ).alias("p95_within_1pct"),
    )


@query(
    "rank_function_suite",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           row_number() OVER w AS rn,
           rank() OVER w AS rnk,
           CAST(dense_rank() OVER w AS INTEGER) AS drnk,
           CAST(percent_rank() OVER w AS DOUBLE) AS prank,
           CAST(cume_dist() OVER w AS DOUBLE) AS cdist,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
    FROM (SELECT * FROM orders WHERE o_orderkey < 2000)
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def rank_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function coverage in one shared window: row_number, rank,
    dense_rank, percent_rank, cume_dist and ntile(4) over the same
    (priority, price-desc) frame — one shuffle on the partition key
    serves all six expressions (WindowExec evaluates them in a single
    pass). Ties on price break by order key so every rank is total and
    cross-engine deterministic; the orderkey<2000 slice keeps the graded
    frame small while the plan is the one a full-table run would use."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).cast("double").alias("prank"),
        F.cume_dist().over(w).cast("double").alias("cdist"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@query(
    "grouped_array_collect",
    oracle="""
    SELECT event_type,
           array_to_string(list(event_id ORDER BY event_id), ',')
               AS event_ids,
           array_to_string(list_sort(list(DISTINCT user_id)), ',')
               AS distinct_users,
           count(*) AS n_rows
    FROM events WHERE event_id < 200
    GROUP BY event_type
    """,
)
def grouped_array_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation made deterministic: collect_list/collect_set
    gather values in partition-arrival order (nondeterministic under any
    real parallelism), so every collected array is canonicalized with
    array_sort before it leaves the aggregate — the ONLY way an
    array-valued result can be reproducible, diffable, or cross-engine
    comparable. Both collects run in the same partial+final hash
    aggregate (one shuffle); the event_id<200 slice bounds per-group
    array size in the graded row exactly the way a production job caps
    collected groups (slice/limit inside the group) to bound reducer
    memory at 100 TB. The sorted arrays are serialized to comma-joined
    strings at the query boundary (array_join ≡ DuckDB array_to_string)
    so the row is hashable by any downstream canonicalizer — array-typed
    payloads stay an internal representation, never a result-contract
    type."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 200)

    def _joined(col: Column) -> Column:
        return F.array_join(
            F.transform(col, lambda x: x.cast("string")), ","
        )

    return ev.groupBy("event_type").agg(
        _joined(F.array_sort(F.collect_list("event_id"))).alias("event_ids"),
        _joined(F.array_sort(F.collect_set("user_id"))).alias(
            "distinct_users"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Derived partsupp: the synthetic schema has no partsupp table, so the five
# TPC-H shapes that need it (q2/q9/q11/q16/q20) run over a DETERMINISTIC
# partsupp VIEW derived from the given part × supplier tables — each part
# carries 4 pseudo-random suppliers with formula-derived supplycost/availqty,
# computed identically (same integer arithmetic) on the Spark side and in the
# DuckDB oracle CTE, exactly like the synthetic media blobs derive from
# doc_id. Inputs remain the driver-provided parquet only.
# ---------------------------------------------------------------------------

_PARTSUPP_SQL = """
    ps0 AS (
        SELECT p_partkey AS ps_partkey,
               (p_partkey * 397 + i * 7919) % n AS ps_suppkey
        FROM part, (SELECT count(*) AS n FROM supplier) nsupp,
             range(0, 4) r(i)
    ), partsupp AS (
        SELECT DISTINCT ps_partkey, ps_suppkey,
               ((ps_partkey * 31 + ps_suppkey * 17) % 9000 + 1000) / 100.0
                   AS ps_supplycost,
               (ps_partkey * 13 + ps_suppkey) % 9999 + 1 AS ps_availqty
        FROM ps0
    )
"""

# supplycost as a scalar function of the key pair (q9 applies it directly
# to lineitem rows — at scale that is a projection, not a join)
_SUPPLYCOST = "(({pk} * 31 + {sk} * 17) % 9000 + 1000) / 100.0"


_N_SUPP_CACHE: dict[tuple, int] = {}


def _n_supp(spark: SparkSession, sf_dir: str) -> int:
    """Supplier-domain size, memoized per (sf_dir, file identity): the
    scalar is needed at view-CONSTRUCTION time (the modulus in the
    suppkey formula), and without the memo every q2/q11/q16/q20 plan
    build — including plan-only audit paths — would re-run the count
    job. The file mtime/size in the key invalidates the memo if the
    parquet is regenerated in-place mid-process (the oracle recounts
    live; a stale modulus would silently diverge from it)."""
    import os

    p = os.path.join(sf_dir, "supplier.parquet")
    try:
        st = os.stat(p)
        key = (sf_dir, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (sf_dir, None, None)
    if key not in _N_SUPP_CACHE:
        _N_SUPP_CACHE[key] = load_table(spark, sf_dir, "supplier").count()
    return _N_SUPP_CACHE[key]


def _partsupp_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark half of the derived partsupp view (see _PARTSUPP_SQL)."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    # scalar domain size; mirrored by the oracle's
    # (SELECT count(*) FROM supplier)
    n_supp = _n_supp(spark, sf_dir)
    ps0 = part.select(
        "p_partkey",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i"),
    )
    sk = (F.col("p_partkey") * 397 + F.col("i").cast("long") * 7919) % n_supp
    return (
        ps0.select(
            F.col("p_partkey").alias("ps_partkey"),
            sk.alias("ps_suppkey"),
        )
        .dropDuplicates(["ps_partkey", "ps_suppkey"])
        .withColumn(
            "ps_supplycost",
            ((F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 9000
             + 1000) / 100.0,
        )
        .withColumn(
            "ps_availqty",
            (F.col("ps_partkey") * 13 + F.col("ps_suppkey")) % 9999 + 1,
        )
    )


def _scratch_tag(spark: SparkSession, sf_dir: str) -> str:
    """Scratch identity = (scale factor, Spark application). Keyed on
    the app id so concurrently-running APPLICATIONS never clobber each
    other's files mid-read (sessions forked via newSession() share an
    app id and are the caller's own concurrency domain), while repeated
    runs inside one application overwrite the same location — bounded to
    one artifact per (query, sf) per application instead of one per run.
    Artifacts of FINISHED applications are reaped by _gc_stale_siblings
    (age-based), so cross-process accumulation stays bounded too."""
    import hashlib
    import re as _re

    app = _re.sub(r"\W+", "", spark.sparkContext.applicationId)[-12:]
    return hashlib.md5(sf_dir.encode()).hexdigest()[:8] + "_" + app


_SCRATCH_TTL_S = 6 * 3600


def _gc_stale_siblings(parent: str, prefix: str, keep: str) -> None:
    """Remove `parent`/`prefix`* entries other than `keep` whose mtime is
    older than the TTL — dead scratch from finished applications. Live
    concurrent runs are minutes-long, far inside the 6 h TTL, so this
    never races an active reader; errors are ignored (another process
    may be reaping the same entry)."""
    import os
    import shutil
    import time

    try:
        entries = os.listdir(parent)
    except OSError:
        return
    cutoff = time.time() - _SCRATCH_TTL_S
    for e in entries:
        p = os.path.join(parent, e)
        if e.startswith(prefix) and p != keep:
            try:
                if os.path.getmtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass


def _scratch_dir(name: str, spark: SparkSession, sf_dir: str) -> str:
    """Stable per-(query, sf, app) scratch path for layout queries:
    repeated invocations in a session OVERWRITE the same location
    instead of leaking a fresh mkdtemp per run — graded rows re-run
    every round/sweep, so per-run temp dirs accumulate without bound.
    Stale siblings from finished applications are reaped on entry."""
    import os
    import tempfile

    parent = tempfile.gettempdir()
    d = os.path.join(
        parent, f"spark_graft_{name}_{_scratch_tag(spark, sf_dir)}"
    )
    _gc_stale_siblings(parent, f"spark_graft_{name}_", d)
    return d


def _reset_managed_table(
    spark: SparkSession, name: str, gc_prefix: str | None = None
) -> None:
    """Drop a managed table AND clear its leftover warehouse directory.
    The in-memory catalog forgets tables across sessions while their
    files persist, so a fixed-name saveAsTable in a fresh session would
    otherwise trip over the orphaned location. With ``gc_prefix``, also
    reap same-prefix warehouse dirs from finished applications (the
    app-id-tagged names accumulate one pair per driver process
    otherwise)."""
    import os
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    target = os.path.join(wh.path, name.lower())
    shutil.rmtree(target, ignore_errors=True)
    if gc_prefix:
        _gc_stale_siblings(wh.path, gc_prefix.lower(), target)


@query(
    "tpch_q8_market_share",
    oracle=f"""
    WITH flat AS (
        SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = n1.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
        JOIN part p     ON p.p_partkey = l.l_partkey
        WHERE r.r_name = 'AMERICA'
          AND p.p_type = 'ECONOMY'
          AND o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
    )
    SELECT o_year,
           {sql_stable_sum(
               "CASE WHEN supp_nation = 'NATION_3' THEN volume"
               " ELSE 0 END", 2)} AS nation_volume,
           {sql_stable_sum("volume", 2)} AS total_volume,
           {sql_stable_sum(
               "CASE WHEN supp_nation = 'NATION_3' THEN volume"
               " ELSE 0 END", 2)} / {sql_stable_sum("volume", 2)}
               AS mkt_share
    FROM flat
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: a seven-table join star
    reduced to a conditional-ratio aggregate per year. All six dimension
    legs (orders excepted) are broadcast — at any scale region/nation/
    part/supplier/customer are dwarfed by lineitem — so the only shuffle
    is lineitem⋈orders on the order key, then a tiny per-year aggregate.
    The share divides two stable decimal sums in one IEEE op, identical
    cross-engine. (Dates/type values adapted to the synthetic domain;
    the reference shape is unchanged.)"""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == "AMERICA"
    )
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    cust_nat = c.join(
        F.broadcast(
            n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        ),
        c.c_nationkey == n.n_nationkey,
    ).select("c_custkey")
    supp_nat = s.join(
        F.broadcast(n.select("n_nationkey", "n_name")),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    flat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust_nat), o.o_custkey == cust_nat.c_custkey)
        .join(F.broadcast(supp_nat), li.l_suppkey == supp_nat.s_suppkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "volume"
            ),
            "supp_nation",
        )
    )
    nation_vol = stable_sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
        .otherwise(F.lit(0.0)),
        2,
    )
    total_vol = stable_sum("volume", 2)
    return flat.groupBy("o_year").agg(
        nation_vol.alias("nation_volume"),
        total_vol.alias("total_volume"),
        (nation_vol / total_vol).alias("mkt_share"),
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON o.o_custkey = c.c_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def tpch_q13_customer_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13 shape — customer order-count distribution: LEFT OUTER
    join with the filter INSIDE the join condition (a customer whose
    every order is urgent must still appear with count 0 — pushing the
    predicate below the join would drop them), then a histogram of
    counts: two chained aggregations where the second's input is already
    tiny. The join and the first groupBy share the o_custkey/c_custkey
    partitioning, so the plan is one real shuffle of orders plus a
    constant-size recount. count(o_orderkey) counts only non-null
    matches per outer-join semantics. (Priority filter stands in for the
    reference's comment NOT LIKE — o_comment is not in the synthetic
    schema; the shape is unchanged.)"""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey)
        & (o.o_orderpriority != "1-URGENT"),
        "left_outer",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@query(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {sql_stable_sum("l_extendedprice * (1 - l_discount)", 2)}
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — top supplier by quarterly revenue: the "view"
    pattern. The revenue aggregate is built ONCE and used twice (rows +
    its own max) — in Spark the reused subplan is one DataFrame object,
    so the exchange under it is reused rather than recomputed; the max
    is a 1-row aggregate broadcast back as the filter, and the supplier
    enrichment broadcasts the dim. Revenue uses the stable decimal sum,
    so the equality cut against the max lands identically cross-engine
    (raw double sums would make 'equal to max' engine-dependent)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        stable_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
        ).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    top = revenue.join(
        F.broadcast(mx), revenue.total_revenue == mx.mx
    ).select("supplier_no", "total_revenue")
    return top.join(
        F.broadcast(s), top.supplier_no == s.s_suppkey
    ).select("s_suppkey", "s_name", "total_revenue")


@query(
    "hopping_window_agg",
    oracle=f"""
    WITH e AS (
        SELECT time_bucket(INTERVAL 5 MINUTES, ts)
                   - (r.i * INTERVAL 5 MINUTES) AS ws,
               event_type, value
        FROM events, range(0, 2) r(i)
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(ws + INTERVAL 10 MINUTES, '%Y-%m-%d %H:%M:%S')
               AS window_end,
           event_type,
           count(*) AS message_count,
           {sql_stable_sum("value", 2)} AS sum_value
    FROM e
    GROUP BY 1, 2, 3
    """,
)
def hopping_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window aggregate, batch twin of ksql's WINDOW
    HOPPING (SIZE 10 MINUTES, ADVANCE BY 5 MINUTES): every event lands
    in size/advance = 2 overlapping epoch-aligned windows. Spark's
    window(ts, size, slide) compiles this to a single Expand (2 rows per
    input) feeding one partial+final hash aggregate — replication factor
    is the constant size/advance, never data-dependent, so the shape
    costs exactly 2× a tumbling window at any scale. The oracle builds
    the same two windows per row via an explicit range(0,2) cross join."""
    ev = load_table(spark, sf_dir, "events")
    w = F.window("ts", "10 minutes", "5 minutes")
    return ev.groupBy(w.alias("window"), "event_type").agg(
        F.count(F.lit(1)).alias("message_count"),
        stable_sum("value", 2).alias("sum_value"),
    ).select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias(
            "window_end"
        ),
        "event_type",
        "message_count",
        "sum_value",
    )


@query(
    "bucketed_orders_lineitem_join",
    oracle=f"""
    SELECT o.o_orderkey AS k,
           count(*) AS n_items,
           {sql_stable_sum("l.l_quantity", 2)} AS total_qty,
           max(o.o_totalprice) AS o_totalprice
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey < 2000
    GROUP BY o.o_orderkey
    """,
)
def bucketed_orders_lineitem_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Co-located fact⋈fact join over write-time bucketing
    (operators/bucketing.py): orders and lineitem are hash-bucketed on
    the order key into matching bucket counts, so the SortMergeJoin AND
    the groupBy on the same key run with ZERO Exchange — the recurring
    join's shuffle is paid once at ingest, the core 100 TB layout win.
    The zero-Exchange property is asserted IN the query (a regression
    that reintroduces a shuffle fails the graded row, not just a unit
    test), and the oracle is the plain join — proving the layout changes
    the plan, never the answer. The merge hint only pins SMJ strategy so
    the assertion is meaningful at any autoBroadcast threshold; the
    o_orderkey filter additionally exercises bucket pruning."""
    from sparkksqldbbenchmark_spark.operators.bucketing import (
        write_bucketed,
    )

    # fixed per-(sf, app) names, overwritten each run within a session
    # (not uuid-per-run: graded rows execute every round/sweep and would
    # leak two tables each time; the app-id component keeps concurrent
    # sessions from clobbering each other)
    tag = _scratch_tag(spark, sf_dir)
    lt, ot = f"graded_li_bkt_{tag}", f"graded_ord_bkt_{tag}"
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("k"), "l_quantity")
        .where(F.col("k") < 2000)
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("k"), "o_totalprice")
        .where(F.col("k") < 2000)
    )
    _reset_managed_table(spark, lt, gc_prefix="graded_li_bkt_")
    _reset_managed_table(spark, ot, gc_prefix="graded_ord_bkt_")
    write_bucketed(li, lt, "k", buckets=8)
    write_bucketed(orders, ot, "k", buckets=8)
    joined = (
        spark.table(ot)
        .hint("merge")
        .join(spark.table(lt), "k")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            stable_sum("l_quantity", 2).alias("total_qty"),
            F.max("o_totalprice").alias("o_totalprice"),
        )
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, (
        "bucketed join/agg must not shuffle either side:\n" + plan
    )
    assert "SelectedBucketsCount" in plan, "bucketed scan not engaged"
    return joined


@query(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
    WITH {_PARTSUPP_SQL},
    eligible AS (
        SELECT ps.ps_partkey, ps.ps_supplycost,
               s.s_acctbal, s.s_name, n.n_name
        FROM partsupp ps
        JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    min_cost AS (
        SELECT ps_partkey, min(ps_supplycost) AS mc
        FROM eligible GROUP BY ps_partkey
    )
    SELECT e.s_acctbal, e.s_name, e.n_name,
           p.p_partkey, p.p_type, e.ps_supplycost
    FROM eligible e
    JOIN min_cost m
      ON e.ps_partkey = m.ps_partkey AND e.ps_supplycost = m.mc
    JOIN part p ON p.p_partkey = e.ps_partkey
    WHERE p.p_size <= 10 AND p.p_type = 'LARGE'
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
    LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — cheapest supplier per part: the correlated
    min-subquery decorrelated into a per-part min aggregate joined back
    on (part, exact cost). The region-filtered supplier dim broadcasts
    into the derived partsupp; the min aggregate and the join-back share
    the ps_partkey partitioning; top-100 compiles to
    TakeOrderedAndProject. Cost equality is safe because supplycost is a
    2-dp decimal-derived double, bit-identical cross-engine (a raw
    aggregated double would make 'equal to min' engine-dependent).
    Runs over the deterministic derived partsupp (see _PARTSUPP_SQL)."""
    ps = _partsupp_view(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == "EUROPE"
    )
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") <= 10) & (F.col("p_type") == "LARGE")
    ).select("p_partkey", "p_type")
    region_supp = s.join(
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
        s.s_nationkey == n.n_nationkey,
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    eligible = ps.join(
        F.broadcast(region_supp), ps.ps_suppkey == region_supp.s_suppkey
    )
    min_cost = eligible.groupBy(F.col("ps_partkey").alias("mc_partkey")).agg(
        F.min("ps_supplycost").alias("mc")
    )
    best = eligible.join(
        min_cost,
        (eligible.ps_partkey == min_cost.mc_partkey)
        & (eligible.ps_supplycost == min_cost.mc),
    ).drop("mc_partkey")
    return (
        best.join(F.broadcast(p), best.ps_partkey == p.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name",
            "p_partkey", "p_type", "ps_supplycost",
        )
        .orderBy(
            F.desc("s_acctbal"), F.asc("n_name"),
            F.asc("s_name"), F.asc("p_partkey"),
        )
        .limit(100)
    )


@query(
    "tpch_q9_product_profit",
    oracle=f"""
    SELECT nation,
           CAST(o_year AS INTEGER) AS o_year,
           {sql_stable_sum("amount", 2)} AS profit
    FROM (
        SELECT n.n_name AS nation,
               year(o.o_orderdate) AS o_year,
               l.l_extendedprice * (1 - l.l_discount)
                   - ({_SUPPLYCOST.format(pk="l.l_partkey",
                                          sk="l.l_suppkey")})
                     * l.l_quantity AS amount
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE p.p_name LIKE '%gear%'
    )
    GROUP BY 1, 2
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-line profit by nation and year: revenue
    minus supply cost over a part-name LIKE slice. The supplycost here
    is the derived deterministic attribute of (partkey, suppkey) — at
    any scale that makes the costing step a pure PROJECTION on lineitem
    (no partsupp join at all), which is exactly how a derived pricing
    attribute should execute; part/supplier/nation broadcast, so the
    only shuffle is lineitem⋈orders plus the tiny (nation, year) agg."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_name").like("%gear%")
    ).select("p_partkey")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    supplycost = (
        (F.col("l_partkey") * 31 + F.col("l_suppkey") * 17) % 9000 + 1000
    ) / 100.0
    flat = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                - supplycost * F.col("l_quantity")
            ).alias("amount"),
        )
    )
    return flat.groupBy("nation", "o_year").agg(
        stable_sum("amount", 2).alias("profit")
    )


@query(
    "tpch_q11_important_stock",
    oracle=f"""
    WITH {_PARTSUPP_SQL},
    filtered AS (
        SELECT ps.ps_partkey,
               ps.ps_supplycost * ps.ps_availqty AS v
        FROM partsupp ps
        JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        WHERE s.s_nationkey IN (
            SELECT n_nationkey FROM nation WHERE n_name = 'NATION_7'
        )
    ),
    total AS (
        SELECT {sql_stable_sum("v", 2)} AS t FROM filtered
    )
    SELECT f.ps_partkey, {sql_stable_sum("f.v", 2)} AS stock_value
    FROM filtered f, total
    GROUP BY f.ps_partkey, total.t
    HAVING {sql_stable_sum("f.v", 2)} > 0.002 * total.t
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — stock-value share against a global total: the
    scalar-subquery-in-HAVING pattern. The per-part aggregate and the
    single-row total come from the SAME filtered frame (one shuffle
    feeds both; the total is a broadcast crossJoin back), and both sides
    of the > cut use the identical stable decimal sum so the fraction
    boundary is bit-deterministic cross-engine. Runs over the derived
    partsupp; nation filter keeps the supplier side broadcastable."""
    ps = _partsupp_view(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_7"
    ).select("n_nationkey")
    supp = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey"
    )
    filtered = ps.join(
        F.broadcast(supp), ps.ps_suppkey == supp.s_suppkey
    ).select(
        "ps_partkey",
        (F.col("ps_supplycost") * F.col("ps_availqty")).alias("v"),
    )
    per_part = filtered.groupBy("ps_partkey").agg(
        stable_sum("v", 2).alias("stock_value")
    )
    total = filtered.agg(stable_sum("v", 2).alias("t"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("stock_value") > 0.002 * F.col("t"))
        .select("ps_partkey", "stock_value")
    )


@query(
    "tpch_q16_supplier_part_counts",
    oracle=f"""
    WITH {_PARTSUPP_SQL}
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT ps.ps_suppkey) AS supplier_cnt
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND ps.ps_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2, 3
    """,
)
def tpch_q16_supplier_part_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 shape — supplier counts per part attribute with a
    NOT-IN supplier exclusion: the anti-join feeding a count-distinct.
    The excluded-supplier set (negative account balance stands in for
    the reference's complaint-comment LIKE — the synthetic schema has no
    s_comment) is tiny → broadcast LEFT ANTI; part attributes broadcast
    onto the derived partsupp; the count-distinct plans as the standard
    two-phase (keys+suppkey, then keys) expand-free aggregate."""
    ps = _partsupp_view(spark, sf_dir)
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("ps_suppkey"))
    kept = ps.join(F.broadcast(bad_supp), "ps_suppkey", "left_anti")
    return (
        kept.join(F.broadcast(p), kept.ps_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q20_potential_promotion",
    oracle=f"""
    WITH {_PARTSUPP_SQL},
    shipped AS (
        SELECT l_partkey, l_suppkey,
               {sql_stable_sum("l_quantity", 2)} AS q
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2
    ),
    qualifying AS (
        SELECT DISTINCT ps.ps_suppkey
        FROM partsupp ps
        JOIN shipped lq
          ON lq.l_partkey = ps.ps_partkey
         AND lq.l_suppkey = ps.ps_suppkey
        WHERE ps.ps_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
        )
          AND ps.ps_availqty > 0.5 * lq.q
    )
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (SELECT ps_suppkey FROM qualifying)
    """,
)
def tpch_q20_potential_promotion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 shape — suppliers overstocked on a part line: the
    doubly-nested IN with a correlated half-sum threshold, decorrelated
    into: per-(part, supplier) shipped quantity aggregate (exact decimal
    sum so the 0.5× cut is bit-deterministic), inner-joined to the
    derived partsupp (the join IS the correlation; pairs with no
    shipments drop out, matching the original's NULL-comparison
    exclusion), filtered on availqty > q/2, then a LEFT SEMI into
    supplier. One lineitem shuffle on the pair key; part-name slice and
    nation enrichment broadcast."""
    ps = _partsupp_view(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    red_parts = load_table(spark, sf_dir, "part").where(
        F.col("p_name").like("red%")
    ).select(F.col("p_partkey").alias("ps_partkey"))
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        stable_sum("l_quantity", 2).alias("q")
    )
    qualifying = (
        ps.join(F.broadcast(red_parts), "ps_partkey")
        .join(
            shipped,
            (F.col("ps_partkey") == shipped.l_partkey)
            & (F.col("ps_suppkey") == shipped.l_suppkey),
        )
        .where(F.col("ps_availqty") > 0.5 * F.col("q"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        s.join(
            qualifying, s.s_suppkey == qualifying.ps_suppkey, "left_semi"
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", "n_name")
    )


@query(
    "partitioned_write_prune",
    oracle=f"""
    SELECT event_type,
           count(*) AS n_rows,
           {sql_stable_sum("value", 2)} AS sum_value,
           min(event_id) AS min_event_id
    FROM events
    WHERE event_type IN ('click', 'error')
    GROUP BY event_type
    """,
)
def partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning — the at-rest
    twin of bucketing (operators/bucketing.py) and the single biggest
    scan-cost lever at 100 TB: events are written partitionBy the query
    key, and an equality/IN filter on that key must prune to the
    matching directories at PLANNING time, never scanning the rest. The
    pruning is asserted IN the graded query (non-empty PartitionFilters
    on the scan), so a layout or pushdown regression fails the row; the
    oracle is the plain filtered aggregate — layout changes the scan,
    never the answer. At 3-digit-TB scale the same pattern prunes
    date/source partitions; the partition column must be low-cardinality
    (5 event types here) or small-file explosion eats the win."""
    import re as _re

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    d = _scratch_dir("events_parted", spark, sf_dir)
    ev.write.mode("overwrite").partitionBy("event_type").parquet(d)
    parted = spark.read.parquet(d).where(
        F.col("event_type").isin("click", "error")
    )
    plan = parted._jdf.queryExecution().executedPlan().toString()
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), (
        "partition pruning not engaged on the partitioned scan:\n" + plan
    )
    assert "event_type" in m.group(1), m.group(1)
    return parted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        stable_sum("value", 2).alias("sum_value"),
        F.min("event_id").alias("min_event_id"),
    )


@query(
    "dynamic_partition_pruning_join",
    oracle=f"""
    WITH dim(etype, weight) AS (
        VALUES ('click', 1.0), ('error', 2.0), ('view', 3.0),
               ('signup', 4.0), ('purchase', 5.0)
    )
    SELECT e.event_type,
           count(*) AS n_rows,
           {sql_stable_sum("e.value", 2)} AS sum_value
    FROM events e
    JOIN dim ON e.event_type = dim.etype
    WHERE dim.weight < 2.5
    GROUP BY e.event_type
    """,
)
def dynamic_partition_pruning_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition pruning — the join-DRIVEN pruning lever static
    filters can't reach: the fact table is partitioned on the join key,
    the filter lives on the DIM side only, and at runtime Spark
    broadcasts the filtered dim's keys as a subquery INTO the fact
    scan's PartitionFilters, so only matching partitions are read. This
    is the date-dimension pattern at 100 TB ("fiscal Q3" lives in the
    dim; the fact prunes to those date partitions without any literal
    date filter). Engagement is asserted IN the graded query
    (dynamicpruningexpression on the partitioned scan); the oracle is
    the plain join — pruning changes what's read, never the answer."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    d = _scratch_dir("events_dpp", spark, sf_dir)
    ev.write.mode("overwrite").partitionBy("event_type").parquet(d)
    fact = spark.read.parquet(d)
    dim = spark.createDataFrame(
        [("click", 1.0), ("error", 2.0), ("view", 3.0),
         ("signup", 4.0), ("purchase", 5.0)],
        "etype string, weight double",
    ).where(F.col("weight") < 2.5)
    joined = (
        fact.join(dim, fact.event_type == dim.etype)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            stable_sum("value", 2).alias("sum_value"),
        )
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, (
        "dynamic partition pruning not engaged:\n" + plan
    )
    return joined


@query(
    "range_layout_scan",
    oracle=f"""
    SELECT count(*) AS n_rows,
           {sql_stable_sum("value", 2)} AS sum_value,
           min(event_id) AS min_id,
           max(event_id) AS max_id
    FROM events
    WHERE event_id BETWEEN 100 AND 299
    """,
)
def range_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-sorted layout (operators/layout.write_range_sorted), graded:
    events land in files with pairwise-DISJOINT event_id ranges
    (repartitionByRange + in-file sort), and the query asserts — from
    the written parquet FOOTERS, the same stats any engine's planner
    consults — both the disjointness and that the queried range overlaps
    only a strict subset of files (file skipping is therefore available
    to every reader, by the parquet spec rather than by trusting one
    engine's metrics). The oracle is the plain range aggregate: layout
    changes which files a scan must touch, never the answer. Third leg
    of the at-rest layout triple with `bucketed_orders_lineitem_join`
    (hash bucketing) and `partitioned_write_prune` (hive pruning)."""
    from sparkksqldbbenchmark_spark.operators.layout import (
        file_range_stats,
        write_range_sorted,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    d = _scratch_dir("events_range", spark, sf_dir)
    write_range_sorted(ev, d, "event_id", num_files=8)
    stats = sorted(file_range_stats(d, "event_id"), key=lambda s: s[1])
    for (_, _, prev_max), (_, cur_min, _) in zip(stats, stats[1:]):
        assert cur_min > prev_max, "file ranges overlap: " + repr(stats)
    touched = [s for s in stats if s[1] <= 299 and s[2] >= 100]
    assert 0 < len(touched) < len(stats), (
        "range query should overlap a strict subset of files: "
        + repr(stats)
    )
    return (
        spark.read.parquet(d)
        .where(F.col("event_id").between(100, 299))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            stable_sum("value", 2).alias("sum_value"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )


@query(
    "null_semantics_suite",
    oracle=f"""
    WITH t AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v,
               CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS w
        FROM events
    )
    SELECT count(*) AS n_rows,
           count(v) AS n_nonnull_v,
           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_v,
           count(CASE WHEN v = w THEN 1 END) AS eq_plain,
           count(CASE WHEN v IS NOT DISTINCT FROM w THEN 1 END)
               AS eq_nullsafe,
           {sql_stable_sum("coalesce(v, 0)", 2)} AS sum_coalesced,
           count(nullif(event_type, 'click')) AS n_not_click,
           CAST(sum(CASE WHEN false THEN v END) AS DOUBLE)
               AS all_null_sum,
           CAST(avg(v) IS NOT NULL AS BOOLEAN) AS avg_skips_nulls
    FROM t
    """,
)
def null_semantics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic parity proof — the classic cross-engine trap
    set, graded in one row: plain equality DROPS null comparisons
    (eq_plain counts only both-non-null matches) while null-safe
    equality (Spark `<=>` ≡ DuckDB IS NOT DISTINCT FROM) also matches
    null-with-null; count(col) skips nulls while count(*) doesn't; an
    all-null sum is NULL (never 0 — ANSI off matches the reference's
    permissive arithmetic); avg skips nulls rather than poisoning the
    aggregate; coalesce/nullif round-trip. Both engines must agree on
    every cell — nulls derived deterministically from event_id
    residues."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
        F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("w"),
    )
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_nonnull_v"),
        F.sum(F.col("v").isNull().cast("int")).cast("long").alias("n_null_v"),
        F.count(F.when(F.col("v") == F.col("w"), F.lit(1))).alias("eq_plain"),
        F.count(F.when(F.expr("v <=> w"), F.lit(1))).alias("eq_nullsafe"),
        stable_sum(F.coalesce("v", F.lit(0.0)), 2).alias("sum_coalesced"),
        F.count(F.nullif(F.col("event_type"), F.lit("click"))).alias(
            "n_not_click"
        ),
        F.sum(F.when(F.lit(False), F.col("v")))
        .cast("double")
        .alias("all_null_sum"),
        F.avg("v").isNotNull().alias("avg_skips_nulls"),
    )


@query(
    "tpch_q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    """,
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers who kept finished orders waiting: the
    double-correlated EXISTS + NOT EXISTS over the SAME fact table, the
    hardest decorrelation in the TPC-H suite. The scale answer is to
    fold both subqueries into per-order aggregates computed in ONE pass
    over lineitem⋈orders: n_suppliers = distinct suppliers on the order
    (EXISTS other-supplier ⇔ ≥2) and n_late_suppliers = distinct
    suppliers late on the order (NOT EXISTS other-late ⇔ == 1, since the
    probe row's own supplier is late) — then filter the late rows on
    both counts. The naive translation is three scans of lineitem and
    two correlated shuffles; this is one lineitem⋈orders shuffle on the
    order key, a same-key aggregate the optimizer co-partitions
    (exchange reuse), and a broadcast of supplier names."""
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct(
            F.when(F.col("is_late"), F.col("l_suppkey"))
        ).alias("n_late_suppliers"),
    )
    qualifying = (
        lo.where((F.col("o_orderstatus") == "F") & F.col("is_late"))
        .join(per_order, "l_orderkey")
        .where(
            (F.col("n_suppliers") >= 2) & (F.col("n_late_suppliers") == 1)
        )
    )
    return (
        qualifying.join(F.broadcast(s), qualifying.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "linear_interpolation_gapfill",
    oracle="""
    WITH base AS (
        SELECT user_id, ts,
               max(CASE WHEN event_id % 4 = 0 THEN NULL ELSE value END) AS v
        FROM events GROUP BY user_id, ts
    ), n AS (
        SELECT user_id, ts, v,
               last_value(v IGNORE NULLS) OVER back AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
                   OVER back AS pt,
               first_value(v IGNORE NULLS) OVER fwd AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
                   OVER fwd AS nt
        FROM base
        WINDOW back AS (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               fwd AS (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
           v AS original_value,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                WHEN epoch_us(nt) - epoch_us(pt) = 0 THEN pv
                ELSE pv + (nv - pv)
                     * ((epoch_us(ts) - epoch_us(pt))
                        / (epoch_us(nt) - epoch_us(pt)))
           END AS v_interp
    FROM n
    """,
)
def linear_interpolation_gapfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear gap interpolation (operators/interpolation) — every 4th
    reading nulled, then reconstructed from its nearest non-null
    neighbors weighted by event-time distance; edges one-sided. The
    series is pre-aggregated to unique (user_id, ts) instants so the
    window order is total and the oracle deterministic. Both windows
    share one (user_id, ts) sort → a single Exchange+Sort in the plan;
    the gap fraction is bigint-µs difference divided in double — the
    identical IEEE expression in both engines."""
    from sparkksqldbbenchmark_spark.operators.interpolation import (
        interpolate_linear,
    )

    ev = load_table(spark, sf_dir, "events")
    base = (
        ev.select(
            "user_id",
            "ts",
            F.when(F.col("event_id") % 4 == 0, F.lit(None))
            .otherwise(F.col("value"))
            .alias("v"),
        )
        .groupBy("user_id", "ts")
        .agg(F.max("v").alias("v"))
    )
    out = interpolate_linear(base, ["user_id"], "ts", "v")
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        F.col("v").alias("original_value"),
        F.col("v_interp"),
    )


@query(
    "grouping_sets_report",
    oracle=f"""
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(CAST(hour(ts) AS VARCHAR), 'ALL') AS hour_of_day,
           CAST(GROUPING(event_type) AS INTEGER) AS g_type,
           CAST(GROUPING(hour(ts)) AS INTEGER) AS g_hour,
           count(*) AS message_count,
           {sql_stable_sum("value", 2)} AS total_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (hour(ts)))
    """,
)
def grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ASYMMETRIC grouping sets — two independent subtotal
    groupings, (by type) and (by hour), that neither CUBE nor ROLLUP can
    express, computed in ONE Expand + partial/final HashAggregate pass
    over a single scan (vs a UNION ALL of two aggregations = two scans,
    two shuffles). GROUPING() markers disambiguate which set each output
    row belongs to — the reason coalesce('ALL') is unambiguous even if a
    real value equaled the placeholder. Exercised through the SQL front
    door; Catalyst's grouping-sets analysis is the machinery under
    cube_rollup_report too."""
    from sparkksqldbbenchmark_spark.catalog import load_all

    load_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT coalesce(event_type, 'ALL') AS event_type,
               coalesce(CAST(hour(ts) AS STRING), 'ALL') AS hour_of_day,
               CAST(grouping(event_type) AS INT) AS g_type,
               CAST(grouping(hour(ts)) AS INT) AS g_hour,
               count(*) AS message_count,
               CAST(round(sum(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE)
                   AS total_value
        FROM events
        GROUP BY GROUPING SETS ((event_type), (hour(ts)))
        """
    )
