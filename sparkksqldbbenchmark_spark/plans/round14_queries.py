"""The round-14 staged cohort, graduated into the driver-graded registry
at round-15 start per docs/ROTATION_R14.md.

All 36 staged rows graduate here -- the queue drains (36 staged < 42
free slots, per VERDICT r13 ask #4 / VERDICT r14 item #3). The
module-local ``staged_query`` decorator is swapped for
``plans.registry.query``; mechanics as rounds 6-14, see
plans/round6_queries.py .. round13_queries.py history. Definition
order IS head order: the 21 round-13 holdbacks graduate FIRST (they
waited two rounds), then the 15 round-14 stagings.

Cohort composition -- round-13 holdbacks (21): CUSUM drift flags,
delta-sign run lengths, stratified k-fold, farthest-point init,
last-touch attribution, null-scalar breadth, CSV escape/quote matrix,
MoM/YoY offsets, longest-repeated-substring extraction, weighted
bottom-k, session-window late-drop, transition dwell matrix,
dynamic-gap session late-drop, multi-probe recall@5, order-to-ship
lead time, TV-distance matrix, chi-square independence, local
clustering coefficient, KMV union-merge certificate, grouped Pareto
skyline, full-outer both-null emission. Round-14 rows (15): Gopher
repetition rules, exact Cohen's kappa, water-filled budget
allocation, 2-hop degree sum, retention-expiry plan, Bloom decontam
certificate, b-bit minwise estimate, WAV boxcar decimation, JL
projection certificate, SFT loss-mask plan, temporal split straddle
audit, the composed curation-v2 capstone, HRW rendezvous sharding,
exact average precision, exact macro-F1.

Every row was verified at sf0.001/0.01/0.1 against its DuckDB oracle,
vanilla-swept, and carries a brute-force or property-based second witness
(tests/test_round13_staged.py, tests/test_round14_staged.py,
tests/test_round14_properties.py).

Design notes per query live in the docstrings; every one follows the
repo-wide cross-engine determinism rules (functions/stable.py,
llm/hashing.py): integer or exact-decimal arithmetic wherever a value
is compared, libm only where both engines are correctly-rounded (IEEE
division), md5-based hashing for anything pseudo-random.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkksqldbbenchmark_spark.catalog import load_table
from sparkksqldbbenchmark_spark.plans.registry import query

QueryFn = Callable[[SparkSession, str], DataFrame]


# ------------------------------------ CUSUM drift detection --


@query(
    "cusum_drift_flags",
    oracle="""
    WITH p AS (
        SELECT user_id, ts, event_id,
               sum(CAST(floor(value * 100) AS BIGINT) - 25000) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS pt
        FROM events
    ),
    s AS (
        SELECT user_id,
               pt - least(0, min(pt) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )) AS st
        FROM p
    )
    SELECT count(*) AS n_points,
           CAST(max(st) AS BIGINT) AS max_cusum,
           CAST(sum(CASE WHEN st > 500000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flags,
           CAST(count(DISTINCT CASE WHEN st > 500000 THEN user_id END)
                AS BIGINT) AS n_users_flagged
    FROM s
    """,
)
def cusum_drift_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection — the sequential change detector
    S_t = max(0, S_{t-1} + (x_t - k)) spelled WITHOUT its nonlinear
    recurrence via the prefix-sum identity
    S_t = P_t - min(0, min_{i<=t} P_i): two frames over ONE per-user
    sort (running sum + running min) replace an unparallelizable
    scan-left. k = 25000 cents (the series center), flag threshold
    h = 500000.

    Scale shape: one hash exchange on user_id, one in-partition sort
    shared by both window frames, then a 1-row global rollup — the
    recurrence that looks sequential is exactly parallelizable once
    rewritten, which is the point the row pins.

    Reference basis: time-series diagnostics family (acf/fano r10,
    interarrival r12-cohort — this adds sequential change
    detection)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cents = F.floor(F.col("value") * 100).cast("long")
    p = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(cents - 25000).over(frame).alias("pt"),
    )
    s = p.select(
        "user_id",
        (
            F.col("pt")
            - F.least(F.lit(0).cast("long"), F.min("pt").over(frame))
        ).alias("st"),
    )
    return s.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.max("st").cast("long").alias("max_cusum"),
        F.sum(F.when(F.col("st") > 500000, 1).otherwise(0))
        .cast("long")
        .alias("n_flags"),
        F.countDistinct(
            F.when(F.col("st") > 500000, F.col("user_id"))
        )
        .cast("long")
        .alias("n_users_flagged"),
    )


# ------------------------------------ delta-sign run lengths --


@query(
    "delta_sign_runlength_stats",
    oracle="""
    WITH d AS (
        SELECT user_id, ts, event_id,
               sign(CAST(floor(value * 100) AS BIGINT)
                    - lag(CAST(floor(value * 100) AS BIGINT)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    )) AS sgn
        FROM events
    ),
    nn AS (SELECT * FROM d WHERE sgn IS NOT NULL),
    g AS (
        SELECT user_id, CAST(sgn AS BIGINT) AS sgn,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) - row_number() OVER (
                   PARTITION BY user_id, sgn ORDER BY ts, event_id
               ) AS grp
        FROM nn
    ),
    runs AS (
        SELECT user_id, sgn, grp, count(*) AS len
        FROM g GROUP BY user_id, sgn, grp
    )
    SELECT sgn,
           count(*) AS n_runs,
           CAST(max(len) AS BIGINT) AS max_run,
           CAST(sum(len) AS BIGINT) AS total_len
    FROM runs GROUP BY sgn
    """,
)
def delta_sign_runlength_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RUN-LENGTH statistics of consecutive same-direction moves
    (gaps-and-islands on the SIGN of per-user value deltas): the
    momentum/streak readout — how long do rising, falling, and flat
    stretches last. The islands key is the classic double-row_number
    difference; all arithmetic integer cents.

    Scale shape: one hash exchange on user_id; the lag and both
    row_numbers share the same in-partition sort; the run frame then
    aggregates to a 3-row summary. Same family as batch_sessionize
    (r7) with the sign channel instead of the time-gap channel.

    Reference basis: time-series analytics family (batch_sessionize
    r7, markov_transition_matrix r10 — this adds run-length
    geometry)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.floor(F.col("value") * 100).cast("long")
    d = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.signum((cents - F.lag(cents).over(w)).cast("double"))
        .cast("long")
        .alias("sgn"),
    ).where(F.col("sgn").isNotNull())
    ws = Window.partitionBy("user_id", "sgn").orderBy("ts", "event_id")
    g = d.select(
        "user_id",
        "sgn",
        (F.row_number().over(w) - F.row_number().over(ws)).alias("grp"),
    )
    runs = g.groupBy("user_id", "sgn", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    return runs.groupBy("sgn").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.max("len").cast("long").alias("max_run"),
        F.sum("len").cast("long").alias("total_len"),
    )


# ------------------------------------ stratified k-fold --


def _kfold_oracle() -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    h = sql_md5_int("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH ranked AS (
        SELECT source,
               row_number() OVER (
                   PARTITION BY source ORDER BY ({h}), doc_id
               ) AS rk
        FROM documents
    ),
    folds AS (
        SELECT source, (rk - 1) % 5 AS fold, count(*) AS n
        FROM ranked GROUP BY source, (rk - 1) % 5
    )
    SELECT source, CAST(fold AS BIGINT) AS fold,
           CAST(n AS BIGINT) AS n_docs,
           (max(n) OVER (PARTITION BY source)
            - min(n) OVER (PARTITION BY source)) <= 1 AS balanced
    FROM folds
    """


@query("stratified_kfold_assignment", oracle=_kfold_oracle())
def stratified_kfold_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STRATIFIED K-FOLD assignment — 5 cross-validation folds
    balanced WITHIN each stratum by construction: hash-rank the
    stratum deterministically, fold = (rank-1) mod k, so fold sizes
    differ by at most one per stratum (proven by the in-query
    `balanced` certificate over the per-(source, fold) frame). The
    property random assignment only gives in expectation.

    Scale shape: per-source rank window (the per-key sort family) +
    a 100-cell rollup; the balance certificate runs on the bounded
    cell frame.

    Reference basis: sampling/split family (hash_split_assignment
    r3, group_exact_k_sample r6 — this adds the exact-balance fold
    contract evaluation pipelines need)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    docs = load_table(spark, sf_dir, "documents")
    hk = F.expr(spark_md5_int("CAST(doc_id AS STRING)"))
    w = Window.partitionBy("source").orderBy(hk, "doc_id")
    folds = (
        docs.select(
            "source", F.row_number().over(w).alias("rk")
        )
        .groupBy(
            "source",
            ((F.col("rk") - 1) % 5).cast("long").alias("fold"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ws = Window.partitionBy("source")
    return folds.select(
        "source",
        "fold",
        F.col("n").cast("long").alias("n_docs"),
        (
            (F.max("n").over(ws) - F.min("n").over(ws)) <= 1
        ).alias("balanced"),
    )


# ------------------------------------ farthest-point init --


def _fpinit_oracle(k: int = 4) -> str:
    """Unrolled k-step farthest-point traversal in plain SQL (the
    same unrolled-CTE convention as the pca_power_iteration oracle):
    step 1 = max squared norm, step i>1 = argmax of the running min
    squared distance to the chosen set; ties break to the lowest
    vec_id everywhere."""
    sql = """
    WITH comp AS (
        SELECT vec_id, t.j, CAST(floor(t.e * 1000) AS BIGINT) AS q
        FROM embeddings,
             LATERAL (SELECT generate_subscripts(embedding, 1) AS j,
                             unnest(embedding) AS e) t
    ),
    nrm AS (
        SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS n2
        FROM comp GROUP BY vec_id
    ),
    c1 AS (
        SELECT vec_id, n2 AS metric FROM nrm
        ORDER BY n2 DESC, vec_id LIMIT 1
    ),
    mind1 AS (
        SELECT n.vec_id,
               n.n2 + (SELECT metric FROM c1)
                 - 2 * coalesce(dt.dot, 0) AS d
        FROM nrm n LEFT JOIN (
            SELECT a.vec_id, CAST(sum(a.q * b.q) AS BIGINT) AS dot
            FROM comp a JOIN comp b
              ON a.j = b.j AND b.vec_id = (SELECT vec_id FROM c1)
            GROUP BY a.vec_id
        ) dt ON dt.vec_id = n.vec_id
    )"""
    prev_mind = "mind1"
    chosen = ["(SELECT vec_id FROM c1)"]
    for i in range(2, k + 1):
        excl = ", ".join(chosen)
        sql += f""",
    c{i} AS (
        SELECT vec_id, d AS metric FROM {prev_mind}
        WHERE vec_id NOT IN ({excl})
        ORDER BY d DESC, vec_id LIMIT 1
    )"""
        chosen.append(f"(SELECT vec_id FROM c{i})")
        if i < k:
            sql += f""",
    mind{i} AS (
        SELECT m.vec_id,
               least(m.d,
                     (SELECT n2 FROM nrm
                      WHERE vec_id = (SELECT vec_id FROM c{i}))
                     + (SELECT n2 FROM nrm n
                        WHERE n.vec_id = m.vec_id)
                     - 2 * coalesce(dt.dot, 0)) AS d
        FROM {prev_mind} m LEFT JOIN (
            SELECT a.vec_id, CAST(sum(a.q * b.q) AS BIGINT) AS dot
            FROM comp a JOIN comp b
              ON a.j = b.j AND b.vec_id = (SELECT vec_id FROM c{i})
            GROUP BY a.vec_id
        ) dt ON dt.vec_id = m.vec_id
    )"""
            prev_mind = f"mind{i}"
    selects = [
        "SELECT CAST(1 AS BIGINT) AS step, CAST(vec_id AS BIGINT)"
        " AS vec_id, CAST(metric AS BIGINT) AS metric FROM c1"
    ] + [
        f"SELECT CAST({i} AS BIGINT), CAST(vec_id AS BIGINT),"
        f" CAST(metric AS BIGINT) FROM c{i}"
        for i in range(2, k + 1)
    ]
    return sql + "\n    " + "\n    UNION ALL ".join(selects)


@query(
    "farthest_point_init_quantized", oracle=_fpinit_oracle(4)
)
def farthest_point_init_quantized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FARTHEST-POINT (k-center) initialization — the deterministic
    cousin of k-means++ (argmax of the running min distance instead
    of D² sampling), k=4 over quantized-integer vectors: the seeding
    step whose quality bound (2-approx for k-center) makes it the
    reproducible choice for distributed k-means. All distances exact
    integers via ‖x−c‖² = ‖x‖² + ‖c‖² − 2x·c; ties break to the
    lowest vec_id at every step.

    Scale shape: per step, ONE component-join dot aggregate against
    the 64-row chosen-centroid frame (broadcast) plus a 1-row argmax
    — the per-iteration aggregate+broadcast recipe of the pca/kmeans
    family; k steps, never a pairwise matrix. No driver collect —
    the chosen centroid flows as a broadcast 1-row frame.

    Reference basis: clustering family (kmeans_lloyd_step_quantized
    r12, semdedup r12, pca_power_iteration r12 — this adds the
    seeding step, unrolled-CTE oracle like pca's)."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("j", "e")
    ).select(
        "vec_id",
        "j",
        F.floor(F.col("e").cast("double") * 1000).cast("long").alias("q"),
    )
    nrm = comp.groupBy("vec_id").agg(
        F.sum(F.col("q") * F.col("q")).cast("long").alias("n2")
    )
    pick1 = nrm.agg(
        F.expr("min_by(struct(vec_id, n2), struct(-n2, vec_id))").alias(
            "s"
        )
    ).select(
        F.lit(1).cast("long").alias("step"),
        F.col("s.vec_id").alias("vec_id"),
        F.col("s.n2").cast("long").alias("metric"),
    )

    def dist_to(chosen):
        """d(v, c) for every v, c = the 1-row `chosen` frame."""
        ccomp = comp.join(
            F.broadcast(chosen.select("vec_id")), "vec_id"
        ).select("j", F.col("q").alias("cq"))
        cn2 = (
            nrm.join(F.broadcast(chosen.select("vec_id")), "vec_id")
            .select(F.col("n2").alias("cn2"))
        )
        dot = (
            comp.join(F.broadcast(ccomp), "j")
            .groupBy("vec_id")
            .agg(F.sum(F.col("q") * F.col("cq")).alias("dot"))
        )
        return (
            nrm.join(dot, "vec_id", "left")
            .crossJoin(F.broadcast(cn2))
            .select(
                "vec_id",
                (
                    F.col("n2")
                    + F.col("cn2")
                    - 2 * F.coalesce(F.col("dot"), F.lit(0))
                ).alias("d"),
            )
        )

    picks = [pick1]
    chosen_ids = pick1.select("vec_id")
    mind = dist_to(pick1)
    for i in range(2, 5):
        cand = mind.join(chosen_ids, "vec_id", "left_anti")
        pick = cand.agg(
            F.expr("min_by(struct(vec_id, d), struct(-d, vec_id))").alias(
                "s"
            )
        ).select(
            F.lit(i).cast("long").alias("step"),
            F.col("s.vec_id").alias("vec_id"),
            F.col("s.d").cast("long").alias("metric"),
        )
        picks.append(pick)
        chosen_ids = chosen_ids.unionByName(pick.select("vec_id"))
        if i < 4:
            nd = dist_to(pick).withColumnRenamed("d", "nd")
            # lineage cut per step (the pagerank/kcore recipe): without
            # it the lazy DAG re-embeds every prior step's joins
            mind = mind.join(nd, "vec_id").select(
                "vec_id", F.least("d", "nd").alias("d")
            ).localCheckpoint(eager=True)
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


# ------------------------------------ last-touch attribution --


@query(
    "attribution_last_touch_windowed",
    oracle="""
    WITH marketing AS (
        SELECT user_id, ts,
               max_by(event_type, event_id) AS mtype
        FROM events WHERE event_type IN ('view', 'click')
        GROUP BY user_id, ts
    ),
    purchases AS (
        SELECT user_id, ts, event_id,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    attributed AS (
        SELECT p.cents,
               CASE WHEN m.ts IS NOT NULL
                         AND epoch_us(p.ts) - epoch_us(m.ts)
                             <= 604800000000
                    THEN m.mtype ELSE 'none' END AS touch
        FROM purchases p ASOF LEFT JOIN marketing m
          ON p.user_id = m.user_id AND p.ts >= m.ts
    )
    SELECT touch AS attributed_to,
           count(*) AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM attributed GROUP BY touch
    """,
)
def attribution_last_touch_windowed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LAST-TOUCH ATTRIBUTION with a 7-day lookback — every purchase
    credited to the user's most recent view/click within the window
    (or 'none'): the marketing-analytics join that is naturally an
    AS-OF, not a range join — the nearest preceding touch, then the
    window cut applied to the carried timestamp. Marketing rows are
    deduplicated to one touch per (user, instant) by the
    max-event-id rule so the as-of carry is deterministic.

    Scale shape: the asof_join operator again — one shuffle on
    user_id for both sides, running last-carry, zero inequality
    joins; the 7-day cut is a scan-side filter on the carried
    column. Output is touch-type-bounded.

    Reference basis: as-of + product-analytics families
    (funnel_conversion r6, asof_tolerance_join r8 — this is the
    tolerance form pointed at revenue attribution)."""
    from sparkksqldbbenchmark_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    marketing = (
        ev.where(F.col("event_type").isin("view", "click"))
        .groupBy("user_id", "ts")
        .agg(F.expr("max_by(event_type, event_id)").alias("mtype"))
        .select("user_id", "ts", "mtype", F.col("ts").alias("m_ts"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    joined = asof_join(
        purchases,
        marketing,
        on=["user_id"],
        ts_col="ts",
        payload_cols=["mtype", "m_ts"],
    )
    attributed = joined.select(
        "cents",
        F.when(
            F.col("m_ts").isNotNull()
            & (
                F.unix_micros("ts") - F.unix_micros("m_ts")
                <= 604800000000
            ),
            F.col("mtype"),
        )
        .otherwise("none")
        .alias("attributed_to"),
    )
    return attributed.groupBy("attributed_to").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


# ------------------------------------ null-handling scalars --


@query(
    "null_scalar_breadth_suite",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               CASE WHEN user_id % 7 = 0 THEN NULL
                    ELSE CAST(floor(value * 100) AS BIGINT) END AS nv,
               CASE WHEN event_id % 5 = 0 THEN NULL
                    ELSE CAST(floor(value * 100) AS BIGINT) END AS nv2,
               CASE WHEN user_id % 11 = 0 THEN CAST('NaN' AS DOUBLE)
                    ELSE value END AS maybe_nan
        FROM events
    )
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN nv IS NULL THEN 0 ELSE nv END)
                AS BIGINT) AS zeroifnull_sum,
           CAST(sum(CASE WHEN cents % 5 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS nullifzero_nulls,
           CAST(sum(CASE WHEN nv IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS nvl2_set,
           CAST(sum(CASE WHEN (nv IS NULL AND nv2 IS NULL)
                              OR nv = nv2 THEN 1 ELSE 0 END)
                AS BIGINT) AS equal_null_true,
           CAST(sum(CASE WHEN isnan(maybe_nan) THEN 1 ELSE 0 END)
                AS BIGINT) AS nanvl_replaced,
           CAST(sum(coalesce(nv, -1)) AS BIGINT) AS ifnull_sum
    FROM v GROUP BY event_type
    """,
)
def null_scalar_breadth_suite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The NULL-HANDLING scalar family Spark 4 ships as first-class
    functions — zeroifnull, nullifzero, nvl2, equal_null, nanvl,
    ifnull — each exercised on planted NULL / zero / NaN patterns and
    graded against an oracle that spells every one as its portable
    CASE equivalent (DuckDB has none of these names): the
    three-valued-logic convenience surface ETL code leans on, pinned
    value-exact. NaN handling counts replacements instead of summing
    doubles — no float accumulation enters the hash.

    Scale shape: pure scan-fused per-row expressions, one
    type-bounded rollup.

    Reference basis: SURVEY §2.8 scalar surface extension
    (null_semantics_suite r4 pins 3VL operators; this pins the
    null-CONVENIENCE functions)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.expr(
            "CASE WHEN user_id % 7 = 0 THEN NULL"
            " ELSE CAST(floor(value * 100) AS BIGINT) END"
        ).alias("nv"),
        F.expr(
            "CASE WHEN event_id % 5 = 0 THEN NULL"
            " ELSE CAST(floor(value * 100) AS BIGINT) END"
        ).alias("nv2"),
        F.expr(
            "CASE WHEN user_id % 11 = 0 THEN CAST('NaN' AS DOUBLE)"
            " ELSE value END"
        ).alias("maybe_nan"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("zeroifnull(nv)")).cast("long").alias(
            "zeroifnull_sum"
        ),
        F.sum(
            F.when(F.expr("nullifzero(cents % 5)").isNull(), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("nullifzero_nulls"),
        F.sum(F.expr("nvl2(nv, 1, 0)")).cast("long").alias("nvl2_set"),
        F.sum(F.when(F.expr("equal_null(nv, nv2)"), 1).otherwise(0))
        .cast("long")
        .alias("equal_null_true"),
        F.sum(
            F.when(F.expr("nanvl(maybe_nan, -1.0D)") == -1.0, 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("nanvl_replaced"),
        F.sum(F.expr("ifnull(nv, -1)")).cast("long").alias("ifnull_sum"),
    )


# ------------------------------------ CSV options matrix --


@query(
    "csv_escape_quote_matrix",
    oracle="""
    WITH p AS (
        SELECT doc_id,
               'a|b ''q'' \\ ' || substring(text, 1, 30) AS payload,
               CASE WHEN doc_id % 9 = 0 THEN NULL
                    ELSE substring(text, 31, 10) END AS extra
        FROM documents WHERE doc_id < 400
    )
    SELECT count(*) AS n_docs,
           CAST(sum(CAST(len(payload) AS BIGINT)) AS BIGINT)
               AS payload_chars,
           CAST(sum(CASE WHEN extra IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_extra,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM p
    """,
)
def csv_escape_quote_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CSV OPTIONS MATRIX round-trip — pipe delimiter, single-QUOTE
    quoting, backslash ESCAPE, and a custom nullValue sentinel, on
    payloads that contain the delimiter, the quote char, and
    backslashes, with planted NULLs that must survive the sentinel
    round-trip (write NULL -> token -> read token -> NULL, not the
    empty string and not the literal token). The oracle computes the
    same aggregates straight from the source table — any quoting,
    escaping, or null-sentinel drift lands in payload_chars or
    n_null_extra.

    Scale shape: option-plumbing correctness row (the layout cost
    model is csv_quoted_multiline's point); writes one bounded
    (<=400-row) temp dataset.

    Reference basis: SURVEY §2.1 S5/S10 CSV family — the dialect
    matrix the reference's semicolon reader implies but never
    stresses."""
    import tempfile

    d = tempfile.mkdtemp(prefix="csvmx_")
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 400)
        .select(
            "doc_id",
            F.concat(
                F.lit("a|b 'q' \\ "), F.substring("text", 1, 30)
            ).alias("payload"),
            F.expr(
                "CASE WHEN doc_id % 9 = 0 THEN NULL"
                " ELSE substring(text, 31, 10) END"
            ).alias("extra"),
        )
    )
    opts = {
        "header": "true",
        "sep": "|",
        "quote": "'",
        "escape": "\\",
        "nullValue": "__NULL__",
        "ignoreTrailingWhiteSpace": "false",
        "ignoreLeadingWhiteSpace": "false",
    }
    w = docs.write.mode("overwrite")
    for k, val in opts.items():
        w = w.option(k, val)
    w.csv(d)
    r = spark.read
    for k, val in opts.items():
        r = r.option(k, val)
    back = r.schema("doc_id long, payload string, extra string").csv(d)
    out = back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("payload")).cast("long").alias("payload_chars"),
        F.sum(F.when(F.col("extra").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_extra"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )
    # materialize the 1-row matrix so the written CSV copy can be
    # reclaimed immediately (same hygiene as compression_codec_matrix)
    import shutil

    try:
        rows = out.collect()
        res = spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return res


# ------------------------------------ MoM / YoY deltas --


@query(
    "monthly_revenue_mom_yoy",
    oracle="""
    WITH monthly AS (
        SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS ym,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1
    )
    SELECT CAST(ym AS BIGINT) AS ym,
           rev_cents,
           CAST(rev_cents - lag(rev_cents, 1) OVER (ORDER BY ym)
                AS BIGINT) AS mom_delta,
           CAST(rev_cents - lag(rev_cents, 12) OVER (ORDER BY ym)
                AS BIGINT) AS yoy_delta
    FROM monthly
    """,
)
def monthly_revenue_mom_yoy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MONTH-OVER-MONTH and YEAR-OVER-YEAR revenue deltas — the two
    lag offsets every finance report pairs (seasonal comparison needs
    lag 12, momentum needs lag 1), computed in one window pass over
    the MONTH-GRAIN aggregate. Exact integer cents; NULL deltas where
    no comparison month exists.

    Scale shape: one scan-side month rollup (orders collapse to a
    <=100-row month frame), then both lags share one window over
    that bounded frame — the constant-size-frame rule's textbook
    case. Row-grain data is touched exactly once.

    Reference basis: reporting family (time_rollup_hierarchy r3,
    cube_rollup_report r4 — this adds the offset-comparison readout
    those feed)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("ym")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    w = Window.orderBy("ym")
    return monthly.select(
        "ym",
        "rev_cents",
        (F.col("rev_cents") - F.lag("rev_cents", 1).over(w))
        .cast("long")
        .alias("mom_delta"),
        (F.col("rev_cents") - F.lag("rev_cents", 12).over(w))
        .cast("long")
        .alias("yoy_delta"),
    )


# ------------------------------------ longest repeat extract --


@query(
    "longest_repeated_substring_extract",
    oracle="""
    WITH pos AS (
        SELECT d.source, d.doc_id, p.p,
               substring(d.text, CAST(p.p AS INTEGER), 16) AS suf
        FROM documents d,
             LATERAL (SELECT unnest(range(1, len(d.text) + 1)) AS p) p
        WHERE len(d.text) - p.p + 1 >= 16
    ),
    adj AS (
        SELECT source, suf,
               lag(suf) OVER (
                   PARTITION BY source ORDER BY suf, doc_id, p
               ) AS prev
        FROM pos
    ),
    lcps AS (
        SELECT source, suf,
               len(list_filter(range(1, 17),
                   i -> substring(suf, 1, CAST(i AS INTEGER))
                        = substring(prev, 1, CAST(i AS INTEGER))))
                   AS lcp
        FROM adj WHERE prev IS NOT NULL
    ),
    mx AS (
        SELECT source, max(lcp) AS max_lcp FROM lcps GROUP BY source
    )
    SELECT l.source,
           CAST(m.max_lcp AS BIGINT) AS max_lcp,
           min(substring(l.suf, 1, CAST(m.max_lcp AS INTEGER)))
               AS repeat_text,
           count(*) AS n_achieving_pairs
    FROM lcps l JOIN mx m ON l.source = m.source
    WHERE l.lcp = m.max_lcp
    GROUP BY l.source, m.max_lcp
    """,
)
def longest_repeated_substring_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LONGEST REPEATED SUBSTRING, extracted — not just the LCP
    statistic (suffix_lcp_repeat_stats) but the actual argmax
    substring per source (lexicographically smallest among ties) and
    how many adjacent suffix pairs achieve it: the Lee-et-al
    repeated-substring mining step that decides WHAT to cut from a
    corpus, not just whether repeats exist. Truncation cap 16 chars.

    Scale shape: the same two-level bucketed suffix sort as the
    statistics row (in-bucket lag + bounded boundary frame); the
    argmax join is per-source max broadcast back onto the LCP frame
    — one extra bounded join over the statistics row's plan.

    Reference basis: text-dedup family (exact_substring_spans r9,
    suffix_lcp_repeat_stats staged — this adds extraction)."""
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "source",
        "doc_id",
        F.explode(
            F.expr(
                "case when length(text) >= 16"
                " then sequence(1, length(text) - 15)"
                " else array() end"
            )
        ).alias("p"),
        "text",
    ).select(
        "source",
        "doc_id",
        "p",
        F.expr("substring(text, p, 16)").alias("suf"),
    ).withColumn("bkt", F.expr("substring(suf, 1, 4)"))
    wb = Window.partitionBy("source", "bkt").orderBy(
        "suf", "doc_id", "p"
    )
    # r18 (guide §2.4 share one exchange): the old form consumed `pos`
    # twice — the in-bucket lag window AND a separate min/max bucket
    # aggregate whose partial-agg exchange child differed, so the
    # suffix explode (16 bytes x every character) ran and shuffled
    # TWICE. Both consumers now read the SAME windowed frame: the
    # bucket firsts/lasts are exactly the rows whose lag/lead is null
    # under the identical (suf, doc_id, p) order, so the two branches
    # share one ReusedExchange and the explode runs once.
    in_bucket = pos.select(
        "source",
        "bkt",
        "suf",
        F.lag("suf").over(wb).alias("prev"),
        F.lead("suf").over(wb).alias("nxt"),
    )
    bstats = (
        in_bucket.where(
            F.col("prev").isNull() | F.col("nxt").isNull()
        )
        .groupBy("source", "bkt")
        .agg(
            F.min(
                F.when(F.col("prev").isNull(), F.col("suf"))
            ).alias("fsuf"),
            F.min(
                F.when(F.col("nxt").isNull(), F.col("suf"))
            ).alias("lsuf"),
        )
    )
    ws = Window.partitionBy("source").orderBy("bkt")
    boundary = bstats.select(
        "source",
        F.col("fsuf").alias("suf"),
        F.lag("lsuf").over(ws).alias("prev"),
    ).where(F.col("prev").isNotNull())
    pairs = in_bucket.where(F.col("prev").isNotNull()).select(
        "source", "suf", "prev"
    ).unionByName(boundary)
    lcp = F.size(
        F.expr(
            "filter(sequence(1, 16), i ->"
            " substring(suf, 1, i) = substring(prev, 1, i))"
        )
    ).cast("long")
    lcps = pairs.select("source", "suf", lcp.alias("lcp"))
    mx = lcps.groupBy("source").agg(F.max("lcp").alias("max_lcp"))
    return (
        lcps.join(F.broadcast(mx), "source")
        .where(F.col("lcp") == F.col("max_lcp"))
        .groupBy("source", "max_lcp")
        .agg(
            F.min(
                F.expr("substring(suf, 1, cast(max_lcp as int))")
            ).alias("repeat_text"),
            F.count(F.lit(1)).alias("n_achieving_pairs"),
        )
        .select("source", "max_lcp", "repeat_text", "n_achieving_pairs")
    )


# ------------------------------------ weighted bottom-k --


def _weighted_bottomk_oracle() -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    h = sql_md5_int("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH pri AS (
        SELECT source, doc_id, n_chars,
               ({h}) // greatest(n_chars, 1) AS priority
        FROM documents
    ),
    ranked AS (
        SELECT source, doc_id, n_chars, priority,
               row_number() OVER (
                   PARTITION BY source ORDER BY priority, doc_id
               ) AS rk
        FROM pri
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN rk <= 8 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN rk <= 8 THEN doc_id ELSE 0 END)
                AS BIGINT) AS kept_id_sum,
           CAST(sum(CASE WHEN rk <= 8 THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_weight,
           coalesce(
               max(CASE WHEN rk <= 8 THEN priority END)
               < min(CASE WHEN rk > 8 THEN priority END)
               OR max(CASE WHEN rk <= 8 THEN priority END)
                 = min(CASE WHEN rk > 8 THEN priority END), TRUE)
               AS boundary_ok
    FROM ranked GROUP BY source
    """


@query(
    "weighted_bottomk_priority_sample",
    oracle=_weighted_bottomk_oracle(),
)
def weighted_bottomk_priority_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHT-BIASED BOTTOM-K sampling — priority = md5(id) DIV
    weight, keep the k smallest per source: the deterministic
    priority-sampling shape (heavier documents draw proportionally
    smaller priorities, so selection probability rises with weight)
    that stays MERGEABLE exactly like the uniform bottom-k row —
    partial bottom-k states min-merge across partitions, and
    membership is a pure function of (id, weight). The boundary
    certificate allows equality (integer division creates priority
    ties; rank breaks them by doc_id).

    Scale shape: scan-fused hash+division, per-source top-k rank
    window, 20-row rollup — identical plan family to
    reservoir_bottomk_certified.

    Reference basis: sampling family (reservoir_bottomk staged,
    weighted_sample_priority r7 — this adds the weighted MERGEABLE
    form)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    docs = load_table(spark, sf_dir, "documents")
    pri = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.expr(
            f"({spark_md5_int('CAST(doc_id AS STRING)')})"
            " DIV greatest(n_chars, 1)"
        ).alias("priority"),
    )
    w = Window.partitionBy("source").orderBy("priority", "doc_id")
    ranked = pri.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("rk") <= 8, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("rk") <= 8, F.col("doc_id")).otherwise(0))
        .cast("long")
        .alias("kept_id_sum"),
        F.sum(F.when(F.col("rk") <= 8, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("kept_weight"),
        F.coalesce(
            (
                F.max(F.when(F.col("rk") <= 8, F.col("priority")))
                < F.min(F.when(F.col("rk") > 8, F.col("priority")))
            )
            | (
                F.max(F.when(F.col("rk") <= 8, F.col("priority")))
                == F.min(F.when(F.col("rk") > 8, F.col("priority")))
            ),
            F.lit(True),
        ).alias("boundary_ok"),
    )


# ------------------------------------ session-window late drop --


@query(
    "streaming_session_window_late_drop",
    oracle="""
    WITH d0 AS (
        SELECT date_trunc('day', min(ts)) AS t0 FROM events
    ),
    a AS (
        SELECT user_id, ts FROM events, d0
        WHERE ts >= d0.t0 AND ts < d0.t0 + INTERVAL 1 DAY
    ),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM a),
    marked AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts
                    ) > 1800000000
                    OR lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts
                    ) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM a
    ),
    sess AS (
        SELECT user_id, ts,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM marked
    ),
    agg AS (
        SELECT user_id, sid, count(*) AS n_events,
               min(ts) AS s_start,
               max(ts) + INTERVAL 30 MINUTE AS s_end
        FROM sess GROUP BY user_id, sid
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(n_events AS BIGINT) AS n_events
    FROM agg, wm WHERE s_end <= wm.w
    """,
)
def streaming_session_window_late_drop(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SESSION WINDOWS × WATERMARK LATE DROP — the stateful-merge
    operator under the same three-batch ordered-file fixture as the
    tumbling late-drop row: on-time batches (day 1, split so the
    watermark is SET before the late batch arrives — the measured
    one-batch filter lag), then deliberately-late day-2 rows shifted
    back two days. Late rows must neither CREATE sessions (they end
    below the watermark → they would be emitted and break the hash)
    nor EXTEND on-time ones. Emitted set = 30-minute-gap sessions
    whose end (last event + gap) the final watermark closed — which
    the oracle recomputes relationally as gaps-and-islands.

    Scale shape: session state is bounded by OPEN sessions per key;
    the late-drop filter is precisely what stops stragglers from
    reopening merged session state at 100 TB ingest.

    Reference basis: SURVEY §2.9 T1/T4 extension —
    streaming_session_window_agg (r8) grades the operator,
    session_window_dynamic_gap (r12) the per-row gap; this grades
    its LATE-DATA contract, value-for-value."""
    import os
    import shutil
    import tempfile
    import uuid

    from sparkksqldbbenchmark_spark.streaming.pipeline import (
        run_to_memory,
    )

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.date_trunc("day", F.min("ts")).alias("t0"))
    evb = ev.crossJoin(F.broadcast(bounds))
    on_time = evb.where(
        (F.col("ts") >= F.col("t0"))
        & (F.col("ts") < F.col("t0") + F.expr("INTERVAL 1 DAY"))
    ).select("ts", "user_id", "event_id")
    wlast = Window.orderBy(F.desc("ts"), F.desc("event_id"))
    marked = on_time.withColumn("__rk", F.row_number().over(wlast))
    a_head = marked.where(F.col("__rk") > 1).select("ts", "user_id")
    a_tail = marked.where(F.col("__rk") == 1).select("ts", "user_id")
    late = evb.where(
        (F.col("ts") >= F.col("t0") + F.expr("INTERVAL 1 DAY"))
        & (F.col("ts") < F.col("t0") + F.expr("INTERVAL 2 DAY"))
    ).select(
        (F.col("ts") - F.expr("INTERVAL 2 DAY")).alias("ts"),
        "user_id",
    )
    base = tempfile.mkdtemp(prefix="sessdrop_")
    try:
        sdir = os.path.join(base, "stream")
        os.makedirs(sdir)
        for i, part_df in enumerate((a_head, a_tail, late)):
            tmp = os.path.join(base, f"part{i}")
            part_df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = [
                f for f in os.listdir(tmp) if f.endswith(".parquet")
            ][0]
            dst = os.path.join(sdir, f"file{i}.parquet")
            shutil.copy(os.path.join(tmp, part), dst)
            os.utime(dst, (1_700_000_000 + i * 60,) * 2)
        stream = (
            spark.readStream.schema("ts timestamp, user_id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(sdir)
        )
        agged = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("sw"),
                "user_id",
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "session_start"
                ),
                "n_events",
            )
        )
        name = f"sessdrop_{uuid.uuid4().hex[:8]}"
        q = run_to_memory(agged, name, output_mode="append")
        q.stop()
    finally:
        # fixture dir cleanup: the memory sink materializes rows
        # during the run, so the source files are disposable after
        # stop() (verified source-independent; VERDICT r14 item #2)
        shutil.rmtree(base, ignore_errors=True)
    return spark.table(name)


# ------------------------------------ transition dwell matrix --


@query(
    "transition_dwell_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS prev_type, ts,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type,
               lead(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) - epoch_us(ts) AS dwell_us
        FROM events
    )
    SELECT prev_type, next_type,
           count(*) AS n,
           CAST(sum(dwell_us) AS BIGINT) AS total_dwell_us,
           CAST(min(dwell_us) AS BIGINT) AS min_dwell_us,
           CAST(max(dwell_us) AS BIGINT) AS max_dwell_us,
           CAST(sum(dwell_us) // count(*) AS BIGINT)
               AS mean_dwell_us
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def transition_dwell_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRANSITION DWELL-TIME MATRIX — the Markov transition matrix
    (r10) extended with TIMING: for every (prev_type → next_type)
    pair, how long users dwell before transitioning (exact integer
    microseconds: total, min, max, floor-mean). The behavioral-model
    input that separates a quick bounce from a considered
    conversion; 25 cells for a 5-type alphabet.

    Scale shape: one lead window over the per-user sort (shared with
    every sessionize-family row), one alphabet-bounded rollup.

    Reference basis: product-analytics family
    (markov_transition_matrix r10, interarrival histogram r12,
    event_path_trigrams staged — this adds the dwell-time plane)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        (
            F.lead(F.unix_micros("ts")).over(w)
            - F.unix_micros("ts")
        ).alias("dwell_us"),
    ).where(F.col("next_type").isNotNull())
    return seq.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dwell_us").cast("long").alias("total_dwell_us"),
        F.min("dwell_us").cast("long").alias("min_dwell_us"),
        F.max("dwell_us").cast("long").alias("max_dwell_us"),
        F.expr("sum(dwell_us) DIV count(1)")
        .cast("long")
        .alias("mean_dwell_us"),
    )


# ------------------------------ dynamic-gap session late drop --


@query(
    "streaming_dynamic_gap_session_late_drop",
    oracle="""
    WITH d0 AS (
        SELECT date_trunc('day', min(ts)) AS t0 FROM events
    ),
    a AS (
        SELECT user_id, ts,
               CASE WHEN user_id % 2 = 0 THEN 1800000000
                    ELSE 3600000000 END AS gap_us
        FROM events, d0
        WHERE ts >= d0.t0 AND ts < d0.t0 + INTERVAL 1 DAY
    ),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM a),
    marked AS (
        SELECT user_id, ts, gap_us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts
                    ) > lag(gap_us) OVER (
                        PARTITION BY user_id ORDER BY ts
                    )
                    OR lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts
                    ) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM a
    ),
    sess AS (
        SELECT user_id, ts, gap_us,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM marked
    ),
    agg AS (
        SELECT user_id, sid, count(*) AS n_events,
               min(ts) AS s_start,
               max(epoch_us(ts) + gap_us) AS s_end_us
        FROM sess GROUP BY user_id, sid
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(n_events AS BIGINT) AS n_events
    FROM agg, wm WHERE s_end_us <= epoch_us(wm.w)
    """,
)
def streaming_dynamic_gap_session_late_drop(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC-GAP SESSION WINDOWS × WATERMARK LATE DROP — the
    per-row gap expression (30 min for even users, 60 min for odd —
    the premium-tier timeout pattern) under the three-batch
    late-drop fixture: the interaction of the two hardest session
    behaviors, value-graded. Spark merges sessions when intervals
    [ts, ts+gap(row)) overlap-or-touch; the relational oracle splits
    exactly when the time since the PREVIOUS event exceeds the
    previous event's gap, and a session's end is max(ts + gap) over
    its members — the union-of-intervals rule, not last-event+const.
    (The gap is deliberately constant PER USER: with mixed gaps
    inside one key, an early long-gap interval can bridge a later
    short-gap split and the consecutive-lag oracle would under-merge
    — per-key-constant gaps make the relational split exact.)
    Late rows must neither create nor extend sessions.

    Scale shape: identical to the static-gap late-drop row; the gap
    expression is scan-fused per row, state bounded by open
    sessions.

    Reference basis: SURVEY §2.9 extension —
    session_window_dynamic_gap (r12) grades the batch twin; this
    grades its streaming LATE-DATA contract."""
    import os
    import shutil
    import tempfile
    import uuid

    from sparkksqldbbenchmark_spark.streaming.pipeline import (
        run_to_memory,
    )

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.date_trunc("day", F.min("ts")).alias("t0"))
    evb = ev.crossJoin(F.broadcast(bounds))
    on_time = evb.where(
        (F.col("ts") >= F.col("t0"))
        & (F.col("ts") < F.col("t0") + F.expr("INTERVAL 1 DAY"))
    ).select("ts", "user_id", "event_id")
    wlast = Window.orderBy(F.desc("ts"), F.desc("event_id"))
    marked = on_time.withColumn("__rk", F.row_number().over(wlast))
    a_head = marked.where(F.col("__rk") > 1).select("ts", "user_id")
    a_tail = marked.where(F.col("__rk") == 1).select("ts", "user_id")
    late = evb.where(
        (F.col("ts") >= F.col("t0") + F.expr("INTERVAL 1 DAY"))
        & (F.col("ts") < F.col("t0") + F.expr("INTERVAL 2 DAY"))
    ).select(
        (F.col("ts") - F.expr("INTERVAL 2 DAY")).alias("ts"),
        "user_id",
    )
    base = tempfile.mkdtemp(prefix="dgsess_")
    try:
        sdir = os.path.join(base, "stream")
        os.makedirs(sdir)
        for i, part_df in enumerate((a_head, a_tail, late)):
            tmp = os.path.join(base, f"part{i}")
            part_df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = [
                f for f in os.listdir(tmp) if f.endswith(".parquet")
            ][0]
            dst = os.path.join(sdir, f"file{i}.parquet")
            shutil.copy(os.path.join(tmp, part), dst)
            os.utime(dst, (1_700_000_000 + i * 60,) * 2)
        stream = (
            spark.readStream.schema("ts timestamp, user_id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(sdir)
        )
        gap = F.when(
            F.col("user_id") % 2 == 0, F.lit("30 minutes")
        ).otherwise(F.lit("60 minutes"))
        agged = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(
                F.session_window("ts", gap).alias("sw"),
                "user_id",
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "session_start"
                ),
                "n_events",
            )
        )
        name = f"dgsess_{uuid.uuid4().hex[:8]}"
        q = run_to_memory(agged, name, output_mode="append")
        q.stop()
    finally:
        # fixture dir cleanup: the memory sink materializes rows
        # during the run, so the source files are disposable after
        # stop() (verified source-independent; VERDICT r14 item #2)
        shutil.rmtree(base, ignore_errors=True)
    return spark.table(name)


# ------------------------------------ multi-probe recall@k --


def _multiprobe_at_k_oracle(
    num_planes: int = 5, dim: int = 64, k: int = 5
) -> str:
    from sparkksqldbbenchmark_spark.plans.llm_queries import (
        _planes_values,
        _sql_dot,
    )

    return f"""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000)
                             AS BIGINT)) AS qz
        FROM embeddings
    ), buckets AS (
        SELECT n.vec_id,
               SUM(CASE WHEN {_sql_dot("n.vec", "p.pvec", dim)} >= 0.0
                        THEN (1::BIGINT << p.pid) ELSE 0::BIGINT END)
                   AS bucket
        FROM base n, {_planes_values(num_planes, dim)}
        GROUP BY n.vec_id
    ), nb AS (
        SELECT b.vec_id, b.qz, k.bucket
        FROM base b JOIN buckets k ON b.vec_id = k.vec_id
    ), queries AS (
        SELECT * FROM nb WHERE vec_id % 25 = 0
    ), probe_cells AS (
        SELECT q.vec_id AS qid, q.qz AS qqz,
               CASE WHEN f.f = 0 THEN q.bucket
                    ELSE xor(q.bucket, (1::BIGINT << (f.f - 1))) END
                   AS cell
        FROM queries q, (SELECT unnest(range(0, 6)) AS f) f
    ), cand AS (
        SELECT DISTINCT p.qid, c.vec_id AS cid,
               (SELECT CAST(sum(a.q * b.q) AS BIGINT)
                FROM (SELECT generate_subscripts(p.qqz, 1) AS j,
                             unnest(p.qqz) AS q) a
                JOIN (SELECT generate_subscripts(c.qz, 1) AS j,
                             unnest(c.qz) AS q) b ON a.j = b.j) AS dot
        FROM probe_cells p JOIN nb c ON c.bucket = p.cell
        WHERE c.vec_id != p.qid
    ), mp_top AS (
        SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (
                PARTITION BY qid ORDER BY dot DESC, cid) AS rk
            FROM cand
        ) WHERE rk <= {k}
    ), exact_all AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               (SELECT CAST(sum(a.q * b.q) AS BIGINT)
                FROM (SELECT generate_subscripts(q.qz, 1) AS j,
                             unnest(q.qz) AS q) a
                JOIN (SELECT generate_subscripts(c.qz, 1) AS j,
                             unnest(c.qz) AS q) b ON a.j = b.j) AS dot
        FROM queries q JOIN nb c ON c.vec_id != q.vec_id
    ), exact_top AS (
        SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (
                PARTITION BY qid ORDER BY dot DESC, cid) AS rk
            FROM exact_all
        ) WHERE rk <= {k}
    ), overlap AS (
        SELECT e.qid,
               CAST(count(m.cid) AS BIGINT) AS n_common
        FROM exact_top e LEFT JOIN mp_top m
          ON e.qid = m.qid AND e.cid = m.cid
        GROUP BY e.qid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(n_common) AS BIGINT) AS total_common,
           CAST(sum(n_common) * 1000000
                // (count(*) * {k}) AS BIGINT) AS recall_at_{k}_e6
    FROM overlap
    """


@query(
    "multi_probe_recall_at_k_certified",
    oracle=_multiprobe_at_k_oracle(),
)
def multi_probe_recall_at_k_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-PROBE recall@5 — the SET-OVERLAP certificate the @1 row
    cannot give: |multi-probe top-5 ∩ exact top-5| per query, summed
    into an exact recall@5 in e6 integers. Rank lists use the shared
    total order (dot DESC, id ASC); overlap is a positional-free set
    intersection, so a probe configuration that finds the right
    NEIGHBORS in a different ORDER still scores full recall — the
    metric ANN benchmarks actually report.

    Scale shape: same candidate machinery as the @1 row (probe-cell
    equi-join; bounded query side); top-5 per query is a rank cut
    over the per-query candidate frame; the exact arm stays the
    bounded-probe broadcast audit.

    Reference basis: similarity certificates (ann_recall_certified
    r6 — hyperplane recall; this measures the multi-probe lever at
    k>1)."""
    from sparkksqldbbenchmark_spark.llm import similarity

    planes = similarity.hyperplanes(5, 64)
    emb = load_table(spark, sf_dir, "embeddings")
    qz = F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
        " * 1000) AS BIGINT))"
    )
    base = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(x AS DOUBLE))"
        ).alias("vec"),
        qz.alias("qz"),
    ).withColumn(
        "bucket", F.expr(similarity.lsh_bucket_col("vec", planes))
    ).drop("vec")
    queries = base.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("qz").alias("qqz"),
        F.col("bucket").alias("qbucket"),
    )
    flips = spark.range(0, 6).select(F.col("id").alias("f"))
    probe_cells = queries.crossJoin(F.broadcast(flips)).select(
        "qid",
        "qqz",
        F.when(F.col("f") == 0, F.col("qbucket"))
        .otherwise(
            F.expr("qbucket ^ shiftleft(1L, cast(f - 1 as int))")
        )
        .alias("cell"),
    )
    dot = F.expr(
        "aggregate(zip_with(qqz, qz, (a, b) -> a * b),"
        " 0L, (acc, x) -> acc + x)"
    )
    wmp = Window.partitionBy("qid").orderBy(
        F.desc("dot"), F.asc("cid")
    )
    mp_top = (
        base.join(
            F.broadcast(probe_cells), base.bucket == probe_cells.cell
        )
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"), dot.alias("dot"))
        .dropDuplicates(["qid", "cid"])
        .withColumn("rk", F.row_number().over(wmp))
        .where(F.col("rk") <= 5)
        .select("qid", "cid")
    )
    exact_top = (
        base.crossJoin(F.broadcast(queries.select("qid", "qqz")))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"), dot.alias("dot"))
        .withColumn("rk", F.row_number().over(wmp))
        .where(F.col("rk") <= 5)
        .select("qid", "cid")
    )
    overlap = (
        exact_top.join(
            mp_top.withColumn("__hit", F.lit(1)), ["qid", "cid"], "left"
        )
        .groupBy("qid")
        .agg(F.count("__hit").cast("long").alias("n_common"))
    )
    return overlap.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("n_common").cast("long").alias("total_common"),
        F.expr("(sum(n_common) * 1000000) DIV (count(1) * 5)")
        .cast("long")
        .alias("recall_at_5_e6"),
    )


# ------------------------------ order-to-ship lead time --


@query(
    "order_to_ship_leadtime_histogram",
    oracle="""
    WITH lead AS (
        SELECT o.o_orderpriority AS priority,
               date_diff('day', o.o_orderdate,
                         min(l.l_shipdate)) AS lead_days
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT priority,
           CAST(length(bin(greatest(lead_days, 1))) AS BIGINT)
               AS leadtime_bucket,
           count(*) AS n_orders,
           CAST(sum(lead_days) AS BIGINT) AS total_days,
           CAST(min(lead_days) AS BIGINT) AS min_days,
           CAST(max(lead_days) AS BIGINT) AS max_days
    FROM lead GROUP BY 1, 2
    """,
)
def order_to_ship_leadtime_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORDER-TO-FIRST-SHIP LEAD TIME by priority, in dyadic day
    buckets — the fulfillment-SLA readout (does URGENT actually ship
    faster?): per order, days from order date to its EARLIEST
    lineitem ship date, histogrammed with the log-free bit-length
    bucket and exact integer day sums per (priority, bucket) cell.

    Scale shape: one orders⋈lineitem hash join on the order key +
    an order-grain min-aggregate (both keyed identically, so one
    partitioning serves both), then a priority×bucket-bounded
    rollup.

    Reference basis: relational-analytics family (tpch_q4 priority
    semi-join r4, interarrival_dyadic r12 — this joins the SLA
    question to the dyadic-histogram readout)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    lead = (
        lineitem.join(
            orders.select(
                "o_orderkey", "o_orderpriority", "o_orderdate"
            ),
            lineitem.l_orderkey == orders.o_orderkey,
        )
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff("first_ship", "o_orderdate").alias("lead_days"),
        )
    )
    return lead.groupBy(
        "priority",
        F.length(F.bin(F.greatest("lead_days", F.lit(1))))
        .cast("long")
        .alias("leadtime_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("lead_days").cast("long").alias("total_days"),
        F.min("lead_days").cast("long").alias("min_days"),
        F.max("lead_days").cast("long").alias("max_days"),
    )


# ------------------------------ token TV-distance matrix --


@query(
    "token_tv_distance_matrix",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(regexp_extract_all(text, '\\S+')) AS tok
        FROM documents
    ),
    tf AS (
        SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2
    ),
    tot AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n FROM tf GROUP BY 1
    ),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               a.n AS na, b.n AS nb
        FROM tot a JOIN tot b ON a.source < b.source
    ),
    joint AS (
        SELECT p.src_a, p.src_b, p.na, p.nb,
               coalesce(ta.c, 0) AS ca, coalesce(tb.c, 0) AS cb
        FROM pairs p
        JOIN (SELECT DISTINCT tok FROM tf) v ON TRUE
        LEFT JOIN tf ta ON ta.source = p.src_a AND ta.tok = v.tok
        LEFT JOIN tf tb ON tb.source = p.src_b AND tb.tok = v.tok
        WHERE coalesce(ta.c, 0) + coalesce(tb.c, 0) > 0
    )
    SELECT src_a, src_b,
           CAST(sum(abs(ca * nb - cb * na)) * 500000
                // (max(na) * max(nb)) AS BIGINT) AS tv_e6,
           count(*) AS n_tokens_union
    FROM joint GROUP BY src_a, src_b, na, nb
    """,
)
def token_tv_distance_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TOTAL-VARIATION DISTANCE between per-source token
    distributions, all source pairs — the log-free drift metric
    (TV = ½·Σ|p−q|): cross-multiplied to stay in integers
    (Σ|c_a·n_b − c_b·n_a| over the union vocabulary, scaled by
    2·n_a·n_b once at the end), so the matrix is exact where a
    KL-divergence would drag libm logs through the hash. The
    corpus-mixture drift monitor — which sources speak the same
    language, numerically.

    Scale shape: one tokenize+count per source (the tf frame, vocab-
    bounded), then a vocab⋈pair join on the BOUNDED tf frame — the
    pair matrix is |sources|², never row-grain. At 100 TB the tf
    frame is the only thing recomputed; the matrix is arithmetic on
    aggregates.

    Reference basis: analytic-statistics family (binned_ks r10,
    chi_square_uniformity r12, zipf/oov r12 — this adds the pairwise
    drift plane)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.expr("regexp_extract_all(text, '\\\\S+', 0)")
        ).alias("tok"),
    )
    tf = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = tf.groupBy("source").agg(
        F.sum("c").cast("long").alias("n")
    )
    pairs = (
        tot.alias("a")
        .join(
            tot.alias("b"),
            F.col("a.source") < F.col("b.source"),
        )
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
    )
    vocab = tf.select("tok").distinct()
    joint = (
        pairs.join(F.broadcast(vocab))
        .join(
            tf.select(
                F.col("source").alias("src_a"),
                F.col("tok").alias("tok"),
                F.col("c").alias("ca"),
            ),
            ["src_a", "tok"],
            "left",
        )
        .join(
            tf.select(
                F.col("source").alias("src_b"),
                F.col("tok").alias("tok"),
                F.col("c").alias("cb"),
            ),
            ["src_b", "tok"],
            "left",
        )
        .select(
            "src_a",
            "src_b",
            "na",
            "nb",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
        .where(F.col("ca") + F.col("cb") > 0)
    )
    return joint.groupBy("src_a", "src_b", "na", "nb").agg(
        F.expr(
            "(sum(abs(ca * nb - cb * na)) * 500000)"
            " DIV (na * nb)"
        )
        .cast("long")
        .alias("tv_e6"),
        F.count(F.lit(1)).alias("n_tokens_union"),
    ).drop("na", "nb")


# ------------------------------ chi-square independence --


@query(
    "chi2_independence_contingency",
    oracle="""
    WITH cells AS (
        SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
    ),
    rows_t AS (
        SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1
    ),
    cols_t AS (
        SELECT source, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1
    ),
    n_t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    full_grid AS (
        SELECT r.lang, c.source, r.r, c.c, n.n,
               coalesce(cl.o, 0) AS o
        FROM rows_t r
        JOIN cols_t c ON TRUE
        CROSS JOIN n_t n
        LEFT JOIN cells cl ON cl.lang = r.lang AND cl.source = c.source
    )
    SELECT lang, source,
           CAST(o AS BIGINT) AS observed,
           CAST((r * c) // n AS BIGINT) AS expected_floor,
           CAST(((o * n - r * c) * (o * n - r * c) * 1000000)
                // (n * r * c) AS BIGINT) AS chi2_contrib_e6
    FROM full_grid
    """,
)
def chi2_independence_contingency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHI-SQUARE INDEPENDENCE over the lang × source contingency —
    is language distribution independent of source? Each cell's
    contribution (O−E)²/E is computed WITHOUT ever forming the
    fractional expectation: contribution·e6 =
    ((O·N − R·C)²·10⁶) DIV (N·R·C), exact integer floor in both
    engines (the same cross-multiplication trick as the TV row).
    Zero cells of the full grid are materialized so the statistic
    covers the whole table, not just observed combinations.

    Scale shape: one (lang, source) rollup off the scan; margins and
    the grid are arithmetic on the bounded cell frame (|langs| ×
    |sources|). The full-grid join is bounded² — never row-grain.

    Reference basis: analytic-statistics family
    (chi_square_uniformity_by_type r12 is the GOF form; this is the
    independence form every contingency audit needs)."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("o")
    )
    rows_t = cells.groupBy("lang").agg(
        F.sum("o").cast("long").alias("r")
    )
    cols_t = cells.groupBy("source").agg(
        F.sum("o").cast("long").alias("c")
    )
    n_t = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    grid = (
        rows_t.crossJoin(cols_t)
        .crossJoin(F.broadcast(n_t))
        .join(cells, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            "r",
            "c",
            "n",
            F.coalesce("o", F.lit(0)).cast("long").alias("o"),
        )
    )
    return grid.select(
        "lang",
        "source",
        F.col("o").alias("observed"),
        F.expr("(r * c) DIV n").cast("long").alias("expected_floor"),
        F.expr(
            "((o * n - r * c) * (o * n - r * c) * 1000000)"
            " DIV (n * r * c)"
        )
        .cast("long")
        .alias("chi2_contrib_e6"),
    )


# ------------------------------ local clustering coefficient --


def _clustering_oracle(k: int = 16, bands: int = 4, n: int = 3) -> str:
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
    ), edges AS (
        SELECT u AS src, v AS dst FROM pairs
        UNION ALL
        SELECT v AS src, u AS dst FROM pairs
    ), deg AS (
        SELECT src AS node, count(*) AS d FROM edges GROUP BY src
    ), tri AS (
        SELECT e1.src AS node, count(*) AS t2
        FROM edges e1
        JOIN edges e2 ON e1.dst = e2.src
        JOIN pairs p ON p.u = least(e1.src, e2.dst)
                    AND p.v = greatest(e1.src, e2.dst)
        WHERE e1.src != e2.dst
        GROUP BY e1.src
    ), coef AS (
        SELECT d.node, d.d,
               coalesce(t.t2, 0) AS t2,
               CASE WHEN d.d >= 2
                    THEN (coalesce(t.t2, 0) * 1000000)
                         // (d.d * (d.d - 1))
                    ELSE 0 END AS cc_e6
        FROM deg d LEFT JOIN tri t ON d.node = t.node
    )
    SELECT CAST(d AS BIGINT) AS degree,
           count(*) AS n_nodes,
           CAST(sum(cc_e6) AS BIGINT) AS total_cc_e6,
           CAST(sum(t2) // 2 AS BIGINT) AS n_triangles2
    FROM coef GROUP BY d
    """


@query(
    "local_clustering_coefficient", oracle=_clustering_oracle()
)
def local_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENT per node of the near-dup graph,
    rolled up by degree — cc(v) = triangles-through-v / (d(d−1)/2),
    kept integer as (2T·10⁶) DIV (d(d−1)): the graph-density
    fingerprint that separates clique-like template families (cc→1)
    from chain-like near-dup drift (cc→0), per degree class. The
    triangle count per node reuses the wedge-join recipe: wedges
    u−v−w joined against the edge set to close them.

    Scale shape: degree is one aggregate; wedges are bounded by
    Σd(v)² on the LSH-bounded graph (the triangle row's argument);
    the closing join is an equi-join on the canonical pair key.
    Output is degree-bounded.

    Reference basis: dup-graph family (dupgraph_triangle_count r12
    counts global triangles; dup_graph_degree_stats r8 the degrees —
    this combines them into the per-node density readout)."""
    from sparkksqldbbenchmark_spark.llm.dedup import lsh_banded_buckets

    docs = load_table(spark, sf_dir, "documents")
    _, buckets = lsh_banded_buckets(
        docs, "text", "doc_id", num_hashes=16, bands=4
    )
    left = buckets.select(F.col("doc_id").alias("u"), "band_idx", "bh")
    right = buckets.select(F.col("doc_id").alias("v"), "band_idx", "bh")
    pairs = (
        left.join(right, ["band_idx", "bh"])
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .dropDuplicates(["u", "v"])
        .localCheckpoint(eager=True)
    )
    edges = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    wedges = (
        edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .join(
            edges.select(
                F.col("u").alias("b"), F.col("v").alias("c")
            ),
            "b",
        )
        .where(F.col("a") != F.col("c"))
    )
    closed = wedges.join(
        pairs.select(
            F.least("u", "v").alias("pu"),
            F.greatest("u", "v").alias("pv"),
        ),
        (F.least("a", "c") == F.col("pu"))
        & (F.greatest("a", "c") == F.col("pv")),
    )
    tri = closed.groupBy(F.col("b").alias("node")).agg(
        F.count(F.lit(1)).alias("t2")
    )
    coef = deg.join(tri, "node", "left").select(
        "node",
        "d",
        F.coalesce("t2", F.lit(0)).cast("long").alias("t2"),
        F.when(
            F.col("d") >= 2,
            F.expr(
                "(coalesce(t2, 0) * 1000000) DIV (d * (d - 1))"
            ),
        )
        .otherwise(0)
        .cast("long")
        .alias("cc_e6"),
    )
    return coef.groupBy(F.col("d").cast("long").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("cc_e6").cast("long").alias("total_cc_e6"),
        F.expr("sum(t2) DIV 2").cast("long").alias("n_triangles2"),
    )


# ------------------------------ KMV sketch union-merge proof --


def _kmv_merge_oracle(k: int = 32, n: int = 3) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import (
        sql_md5_int,
        sql_word_shingles,
    )

    sh = sql_word_shingles("text", n)
    h = sql_md5_int("t.g") + " & 2147483647"
    return f"""
    WITH hsh AS (
        SELECT DISTINCT d.source, {h} AS h
        FROM documents d,
             LATERAL (SELECT unnest({sh}) AS g) t
    ),
    per_src AS (
        SELECT source, h,
               row_number() OVER (
                   PARTITION BY source ORDER BY h
               ) AS rk
        FROM hsh
    ),
    merged AS (
        SELECT h, row_number() OVER (ORDER BY h) AS rank
        FROM (SELECT DISTINCT h FROM per_src WHERE rk <= {k})
        ORDER BY h LIMIT {k}
    ),
    direct AS (
        SELECT h, row_number() OVER (ORDER BY h) AS rank
        FROM (SELECT DISTINCT h FROM hsh)
        ORDER BY h LIMIT {k}
    )
    SELECT CAST(m.rank AS BIGINT) AS rank,
           CAST(m.h AS BIGINT) AS merged_h,
           CAST(d.h AS BIGINT) AS direct_h,
           CAST(CASE WHEN m.h = d.h THEN 1 ELSE 0 END AS BIGINT)
               AS is_equal,
           CAST(CASE WHEN m.rank >= 2
                     THEN ((m.rank - 1) * 2147483647) // m.h
                     ELSE 0 END AS BIGINT) AS est_distinct_at_rank
    FROM merged m JOIN direct d USING (rank)
    """


@query(
    "kmv_sketch_union_merge_certified", oracle=_kmv_merge_oracle()
)
def kmv_sketch_union_merge_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KMV (k-minimum-values) sketch MERGEABILITY, certified in-query:
    the k smallest distinct shingle hashes of the whole corpus must
    equal the k smallest of the UNION of per-source k-min sketches —
    the exact set identity (any global top-k element present in a
    source is inside that source's top-k) that makes KMV a mergeable
    distinct-count sketch (Beyer et al. 2007). Output is the k=32
    rank-aligned pairs (merged vs direct), an is_equal certificate
    per rank, and the KMV estimator (rank−1)·M DIV h_rank at each
    prefix — all exact integers off the md5 31-bit hash space.

    Scale shape: the point of the row — per-source sketches are built
    TWO-LEVEL (k-min inside each of 64 hash-salt groups, then k-min
    of the 64 bounded partials), the map-side-combine shape that
    never materializes a source's full distinct set in one task (the
    salt modulus is the knob: raise it with corpus cardinality so
    each group's distinct set stays task-sized); no pre-distinct —
    collect_set dedups inside the groups, and a separate distinct()
    is a measured extra corpus-grain shuffle;
    the cross-source merge then operates on a ≤ |sources|·k frame.
    This is precisely how a 1000-executor cluster computes distinct
    sketches: partial per partition, merge at the coordinator.

    Reference basis: sketch family (kmv_distinct_sketch r5 grades the
    estimator; countmin/bitmap rows grade other sketches — this row
    grades the MERGE operation, the property every distributed
    deployment of the reference's distinct-count path relies on)."""
    from sparkksqldbbenchmark_spark.llm.hashing import (
        spark_md5_int,
        spark_word_shingles,
    )

    k = 32
    docs = load_table(spark, sf_dir, "documents")
    hsh = (
        docs.select(
            "source",
            F.explode(
                F.expr(spark_word_shingles("text", 3))
            ).alias("g"),
        )
        .select(
            "source",
            F.expr(spark_md5_int("g") + " & 2147483647").alias("h"),
        )
        # no pre-distinct: identical h values land in the same
        # (source, salt) group, where collect_set dedups — a separate
        # distinct() would add a full corpus-grain shuffle for nothing
        # (measured 22x-for-10x degradation at 100M in the probe)
    )
    # level 1: k-min inside 64 salt groups per source (bounded state)
    lvl1 = (
        hsh.withColumn("salt", F.col("h") % 64)
        .groupBy("source", "salt")
        .agg(
            F.slice(F.array_sort(F.collect_set("h")), 1, k).alias(
                "part"
            )
        )
    )
    # level 2: merge the <=64 bounded partials into the source sketch
    src_sketch = (
        lvl1.select("source", F.explode("part").alias("h"))
        .groupBy("source")
        .agg(
            F.slice(F.array_sort(F.collect_set("h")), 1, k).alias(
                "sk"
            )
        )
    )
    merged_arr = (
        src_sketch.select(F.explode("sk").alias("h"))
        .agg(
            F.slice(F.array_sort(F.collect_set("h")), 1, k).alias(
                "merged"
            )
        )
    )
    # direct: same two-level shape, keyed by salt only
    direct_arr = (
        hsh.withColumn("salt", F.col("h") % 64)
        .groupBy("salt")
        .agg(
            F.slice(F.array_sort(F.collect_set("h")), 1, k).alias(
                "part"
            )
        )
        .select(F.explode("part").alias("h"))
        .agg(
            F.slice(F.array_sort(F.collect_set("h")), 1, k).alias(
                "direct"
            )
        )
    )
    both = merged_arr.crossJoin(F.broadcast(direct_arr))
    return both.select(
        F.posexplode(F.arrays_zip("merged", "direct")).alias(
            "pos", "z"
        )
    ).select(
        (F.col("pos") + 1).cast("long").alias("rank"),
        F.col("z.merged").cast("long").alias("merged_h"),
        F.col("z.direct").cast("long").alias("direct_h"),
        F.when(F.col("z.merged") == F.col("z.direct"), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_equal"),
        F.when(
            F.col("pos") + 1 >= 2,
            F.expr(
                "(cast(pos as bigint) * 2147483647) DIV z.merged"
            ),
        )
        .otherwise(0)
        .cast("long")
        .alias("est_distinct_at_rank"),
    )


# ------------------------------------ 2-D Pareto skyline --


@query(
    "skyline_pareto_frontier",
    oracle="""
    WITH cells AS (
        SELECT p_brand,
               CAST(p_size AS BIGINT) AS size,
               CAST(min(CAST(floor(p_retailprice * 100) AS BIGINT))
                    AS BIGINT) AS min_price_cents,
               count(*) AS n_parts
        FROM part GROUP BY p_brand, p_size
    )
    SELECT a.p_brand AS brand, a.size, a.min_price_cents, a.n_parts
    FROM cells a
    WHERE NOT EXISTS (
        SELECT 1 FROM cells b
        WHERE b.p_brand = a.p_brand
          AND b.size > a.size
          AND b.min_price_cents <= a.min_price_cents
    )
    """,
)
def skyline_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D PARETO SKYLINE per brand — the parts no other part beats
    on BOTH axes (maximize p_size, minimize retail price): the
    classic multi-criteria shortlist (cheapest part at every size
    level that isn't outclassed by a larger-or-equal-size cheaper
    one). A (brand, size) cell survives iff no larger-size cell of
    the same brand has min-price <= its min-price; price kept exact
    in floor-cents.

    Scale shape: the skyline NEVER runs at part grain — rows reduce
    to (brand, size) cells first (one hash agg; the cell frame is
    bounded by |brands| x |size domain|, 25 x 50 in TPC-H), then the
    strictly-larger-size sweep is a range-frame window over the
    bounded per-brand cell list. The DuckDB oracle derives the same
    frontier through the independent quadratic NOT-EXISTS spelling.

    Reference basis: pareto_frontier_skyline (r10, TAIL) runs the
    UNGROUPED sweep over distinct global price groups; this is the
    grouped sibling — per-brand frontiers with the row-grain data
    reduced to domain-bounded cells BEFORE any window, the form that
    survives per-group skew at 100 TB (same relationship as the
    grouped vs global quantile rows)."""
    part = load_table(spark, sf_dir, "part")
    cells = part.groupBy(
        F.col("p_brand").alias("brand"),
        F.col("p_size").cast("long").alias("size"),
    ).agg(
        F.min(F.floor(F.col("p_retailprice") * 100).cast("long"))
        .cast("long")
        .alias("min_price_cents"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    # min price over STRICTLY larger sizes: range frame ending 1
    # above the current size under a descending sort
    w = (
        Window.partitionBy("brand")
        .orderBy(F.col("size").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    flagged = cells.withColumn(
        "m1", F.min("min_price_cents").over(w)
    )
    return flagged.where(
        F.col("m1").isNull() | (F.col("m1") > F.col("min_price_cents"))
    ).select("brand", "size", "min_price_cents", "n_parts")


# ---------------------- full-outer stream-stream join --


@query(
    "streaming_full_outer_join_both_nulls",
    oracle="""
    WITH d0 AS (
        SELECT date_trunc('day', min(ts)) AS t0 FROM events
    ),
    v AS (
        SELECT user_id, event_id, ts FROM events, d0
        WHERE event_type = 'view'
          AND ts >= d0.t0 AND ts < d0.t0 + INTERVAL 1 DAY
    ),
    c AS (
        SELECT user_id, event_id, ts FROM events, d0
        WHERE event_type = 'click'
          AND ts >= d0.t0 AND ts < d0.t0 + INTERVAL 1 DAY
    )
    SELECT coalesce(v.user_id, c.user_id) AS user_id,
           v.event_id AS view_id,
           c.event_id AS click_id,
           CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us
    FROM v FULL JOIN c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts
     AND c.ts <= v.ts + INTERVAL 1 HOUR
    """,
)
def streaming_full_outer_join_both_nulls(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL-OUTER stream-stream join — BOTH null directions
    value-graded: unmatched views emit (view, NULL) and unmatched
    clicks emit (NULL, click), each only after the watermark proves
    no counterpart can still arrive. Same three-batch ordered-file
    fixture as the left-outer row (day-1 data, then two
    event-time-filtered sentinel batches to walk the watermark past
    every row's match range through the one-batch application lag).
    The emitted union must equal the relational FULL JOIN row for
    row — the right-null path exercises click-side state eviction,
    which the left-outer row never observes.

    Scale shape: as the left-outer row — state on both sides bounded
    by the 1-hour range below the watermark; full-outer adds no
    state, only the second eviction-emission path.

    Reference basis: SURVEY §2.9 — completes the stream-stream join
    semantics matrix (inner r10, left-outer staged, full-outer
    here)."""
    import os
    import shutil
    import tempfile
    import uuid

    from sparkksqldbbenchmark_spark.streaming.pipeline import (
        run_to_memory,
    )

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.date_trunc("day", F.min("ts")).alias("t0"))
    t0 = bounds.collect()[0]["t0"]
    evb = ev.where(
        (F.col("ts") >= F.lit(t0))
        & (F.col("ts") < F.lit(t0) + F.expr("INTERVAL 1 DAY"))
    )
    views = evb.where(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    clicks = evb.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    sentinel = spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        F.lit(-1).cast("long").alias("event_id"),
        (F.lit(t0) + F.expr("INTERVAL 30 DAY")).alias("ts"),
    )
    sentinel2 = sentinel.select(
        "user_id",
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("ts"),
    )
    base = tempfile.mkdtemp(prefix="foj_")
    try:
        for side, parts in (
            ("left", (views, sentinel, sentinel2)),
            ("right", (clicks, sentinel, sentinel2)),
        ):
            sdir = os.path.join(base, side)
            os.makedirs(sdir)
            for i, part_df in enumerate(parts):
                tmp = os.path.join(base, f"{side}_part{i}")
                part_df.coalesce(1).write.mode("overwrite").parquet(tmp)
                part = [
                    f for f in os.listdir(tmp) if f.endswith(".parquet")
                ][0]
                dst = os.path.join(sdir, f"file{i}.parquet")
                shutil.copy(os.path.join(tmp, part), dst)
                os.utime(dst, (1_700_000_000 + i * 60,) * 2)
        cutoff = F.lit(t0) + F.expr("INTERVAL 1 DAY")
        schema = "user_id bigint, event_id bigint, ts timestamp"
        left = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(base, "left"))
            .withWatermark("ts", "10 minutes")
            .where(F.col("ts") < cutoff)
            .select(
                F.col("user_id").alias("v_user_id"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("view_ts"),
            )
        )
        right = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(base, "right"))
            .withWatermark("ts", "10 minutes")
            .where(F.col("ts") < cutoff)
            .select(
                F.col("user_id").alias("c_user_id"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
        )
        joined = left.join(
            right,
            F.expr(
                "v_user_id = c_user_id AND click_ts >= view_ts"
                " AND click_ts <= view_ts + interval 1 hour"
            ),
            "full_outer",
        ).select(
            F.coalesce("v_user_id", "c_user_id").alias("user_id"),
            "view_id",
            "click_id",
            (F.unix_micros("click_ts") - F.unix_micros("view_ts"))
            .cast("long")
            .alias("lag_us"),
        )
        name = f"foj_null_{uuid.uuid4().hex[:8]}"
        q = run_to_memory(joined, name, output_mode="append")
        q.stop()
    finally:
        # fixture dir cleanup: the memory sink materializes rows
        # during the run, so the source files are disposable after
        # stop() (verified source-independent; VERDICT r14 item #2)
        shutil.rmtree(base, ignore_errors=True)
    return spark.table(name)


# ===================================================================
# Round-14 staging: new rows below (the 21 holdbacks above graduate
# round 15 first — VERDICT r13 ask #4 keeps this refill smaller than
# the graduation count so the queue drains).
# ===================================================================

# ------------------------- Gopher-style repetition quality rules --


def _gopher_oracle() -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    h = sql_md5_int("w.w")
    return f"""
    WITH words AS (
        SELECT d.doc_id,
               unnest(regexp_extract_all(d.text, '\\S+')) AS w,
               generate_subscripts(
                   regexp_extract_all(d.text, '\\S+'), 1) AS i
        FROM documents d
    ),
    flagged AS (
        SELECT doc_id, i, w,
               CASE WHEN ({h} & 3) = 0 THEN 1 ELSE 0 END AS f
        FROM words w
    ),
    sids AS (
        SELECT doc_id, i, w,
               coalesce(sum(f) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS sid
        FROM flagged
    ),
    sents AS (
        SELECT doc_id, sid, string_agg(w, ' ' ORDER BY i) AS s
        FROM sids GROUP BY doc_id, sid
    ),
    sent_stats AS (
        SELECT doc_id, count(*) AS n_sents,
               count(DISTINCT s) AS n_distinct
        FROM sents GROUP BY doc_id
    ),
    tok_stats AS (
        SELECT doc_id, count(*) AS n_words,
               sum(CASE WHEN len(w) <= 2 THEN 1 ELSE 0 END)
                   AS n_short
        FROM words GROUP BY doc_id
    ),
    bigrams AS (
        SELECT doc_id,
               w || ' ' || lead(w) OVER (
                   PARTITION BY doc_id ORDER BY i) AS bg
        FROM words
    ),
    bg_counts AS (
        SELECT doc_id, bg, count(*) AS c
        FROM bigrams WHERE bg IS NOT NULL
        GROUP BY doc_id, bg
    ),
    bg_max AS (
        SELECT doc_id, max(c) AS max_bg FROM bg_counts
        GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_words AS BIGINT) AS n_words,
           CAST(s.n_sents AS BIGINT) AS n_sentences,
           CAST((s.n_sents - s.n_distinct) * 1000000 // s.n_sents
                AS BIGINT) AS dup_sent_micros,
           CAST(coalesce(b.max_bg, 0) * 2 * 1000000 // t.n_words
                AS BIGINT) AS top_bigram_micros,
           CAST(t.n_short * 1000000 // t.n_words AS BIGINT)
               AS short_tok_micros,
           ((s.n_sents - s.n_distinct) * 1000000 // s.n_sents
               < 300000)
           AND (coalesce(b.max_bg, 0) * 2 * 1000000 // t.n_words
               < 200000)
           AND (t.n_short * 1000000 // t.n_words < 400000)
               AS keep
    FROM tok_stats t
    JOIN sent_stats s ON s.doc_id = t.doc_id
    LEFT JOIN bg_max b ON b.doc_id = t.doc_id
    """


@query("gopher_repetition_rules", oracle=_gopher_oracle())
def gopher_repetition_rules(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GOPHER-STYLE REPETITION FILTERS — the composite doc-quality
    rules every production pretraining pipeline runs before tokens
    are spent (Rae et al.'s repetition family, adapted to this
    corpus's planted sentence boundaries since it has no newlines):
    duplicate-sentence fraction, top-bigram token mass (the fraction
    of tokens covered by the single most frequent bigram), and the
    short-token fraction — each an exact integer micro-ratio, folded
    into one KEEP verdict per document.

    Scale shape: sentence building and distinct-counting are pure
    scan-side HOF folds (zero exchanges of word-grain data, the
    sentence_chunk_greedy_fold lesson); ONLY the bigram mode leaves
    the scan, as a (doc_id, bigram)-grain count whose shuffle key is
    doc-local (no cross-doc hot key possible), rolled straight to a
    per-doc max and joined back at doc grain. No global state, no
    window over the corpus — linear at 100 TB.

    Reference basis: text-quality family (text_quality_scores r1,
    text_repetition_ratio r2, quality_threshold_sweep_confusion r13
    — this adds the multi-rule composite KEEP verdict those rows
    feed)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.expr(spark_tokens("text")).alias("toks")
    ).where(F.size("toks") > 0)
    # sentence boundaries scan-side: a word whose md5 & 3 == 0 closes
    # its sentence (the planted-boundary convention shared with the
    # graduated chunker). r18 optimization: O(n) boundary/slice counts
    # (llm/sentences.py) replace the O(ns²) fold — identical integers.
    from sparkksqldbbenchmark_spark.llm.sentences import (
        with_sentence_counts,
    )

    per_doc = with_sentence_counts(toks).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        F.col("ns").cast("long").alias("n_sentences"),
        F.col("nd").cast("long").alias("nd"),
        F.size(
            F.expr("filter(toks, w -> length(w) <= 2)")
        ).cast("long").alias("n_short"),
    )
    # bigram mode: the ONLY exchange — (doc_id, bigram)-grain counts.
    # sequence(1, n-1) is guarded: a 1-word doc must yield NO bigrams
    # (sequence(1, 0) is the DESCENDING [1, 0] — the short-doc trap).
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "case when size(toks) >= 2 then"
                " transform(sequence(1, size(toks) - 1), i ->"
                "  concat(element_at(toks, i), ' ',"
                "         element_at(toks, i + 1)))"
                " else array() end"
            )
        ).alias("bg"),
    )
    bg_max = (
        bg.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bg"))
    )
    j = per_doc.join(bg_max, "doc_id", "left").na.fill({"max_bg": 0})
    dup = (
        (F.col("n_sentences") - F.col("nd")) * 1000000
    ) / F.col("n_sentences")
    dup = F.floor(dup).cast("long")
    topbg = F.floor(
        (F.col("max_bg") * 2 * 1000000) / F.col("n_words")
    ).cast("long")
    short = F.floor(
        (F.col("n_short") * 1000000) / F.col("n_words")
    ).cast("long")
    return j.select(
        "doc_id",
        "n_words",
        "n_sentences",
        dup.alias("dup_sent_micros"),
        topbg.alias("top_bigram_micros"),
        short.alias("short_tok_micros"),
        (
            (dup < 300000) & (topbg < 200000) & (short < 400000)
        ).alias("keep"),
    )


# --------------------------------- Cohen's kappa, exact integers --


@query(
    "cohens_kappa_exact",
    oracle="""
    WITH labeled AS (
        SELECT source,
               (('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                   || '#a'), 1, 15))::BIGINT) % 3 AS a,
               CASE WHEN (('0x' || substring(md5(
                        CAST(doc_id AS VARCHAR) || '#agree'),
                        1, 15))::BIGINT) % 4 < 3
                    THEN (('0x' || substring(md5(
                        CAST(doc_id AS VARCHAR) || '#a'),
                        1, 15))::BIGINT) % 3
                    ELSE (('0x' || substring(md5(
                        CAST(doc_id AS VARCHAR) || '#b'),
                        1, 15))::BIGINT) % 3
               END AS b
        FROM documents
    ),
    cells AS (
        SELECT source, a, b, count(*) AS n
        FROM labeled GROUP BY source, a, b
    ),
    per_source AS (
        SELECT source,
               sum(n) AS nn,
               sum(CASE WHEN a = b THEN n ELSE 0 END) AS agree
        FROM cells GROUP BY source
    ),
    margins AS (
        SELECT r.source, sum(r.rn * c.cn) AS chance
        FROM (SELECT source, a, sum(n) AS rn FROM cells
              GROUP BY source, a) r
        JOIN (SELECT source, b, sum(n) AS cn FROM cells
              GROUP BY source, b) c
          ON c.source = r.source AND c.b = r.a
        GROUP BY r.source
    )
    SELECT p.source,
           CAST(p.nn AS BIGINT) AS n_docs,
           CAST(p.agree AS BIGINT) AS n_agree,
           CAST(p.nn * p.agree - m.chance AS BIGINT)
               AS kappa_num,
           CAST(p.nn * p.nn - m.chance AS BIGINT) AS kappa_den
    FROM per_source p JOIN margins m ON m.source = p.source
    """,
)
def cohens_kappa_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COHEN'S KAPPA as EXACT INTEGERS — inter-annotator agreement
    for labeled training data, the gate every labeling vendor SLA is
    written against. Two deterministic pseudo-annotators label each
    document 0/1/2 (annotator B copies A on ~3/4 of docs, md5-routed,
    else labels independently — a planted agreement structure), and
    kappa = (po − pe)/(1 − pe) is carried as the integer pair
    (N·agree − Σ rᵢcᵢ, N² − Σ rᵢcᵢ) so no engine ever divides.

    Scale shape: one (source, a, b)-grain aggregate (≤ 9 cells per
    source) then bounded-frame algebra — the classic two-level
    mergeable reduction; nothing row-grain survives the first
    partial aggregate.

    Reference basis: evaluation family (auc_rank_sum_exact r13,
    chi2_independence_contingency staged — this adds the
    agreement-matrix member on the same exact-integer discipline)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    docs = load_table(spark, sf_dir, "documents")
    key_a = "concat(cast(doc_id as string), '#a')"
    key_route = "concat(cast(doc_id as string), '#agree')"
    key_b = "concat(cast(doc_id as string), '#b')"
    a = F.expr(f"{spark_md5_int(key_a)} % 3")
    route = F.expr(f"{spark_md5_int(key_route)} % 4")
    b_ind = F.expr(f"{spark_md5_int(key_b)} % 3")
    labeled = docs.select(
        "source",
        a.alias("a"),
        F.when(route < 3, a).otherwise(b_ind).alias("b"),
    )
    cells = labeled.groupBy("source", "a", "b").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_source = cells.groupBy("source").agg(
        F.sum("n").alias("nn"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("n")).otherwise(0)).alias(
            "agree"
        ),
    )
    rows_m = cells.groupBy("source", "a").agg(F.sum("n").alias("rn"))
    cols_m = cells.groupBy(F.col("source").alias("col_source"), "b").agg(
        F.sum("n").alias("cn")
    )
    chance = (
        rows_m.join(
            cols_m,
            (rows_m.source == cols_m.col_source) & (rows_m.a == cols_m.b),
        )
        .groupBy("source")
        .agg(F.sum(F.col("rn") * F.col("cn")).alias("chance"))
    )
    return (
        per_source.join(chance, "source")
        .select(
            "source",
            F.col("nn").cast("long").alias("n_docs"),
            F.col("agree").cast("long").alias("n_agree"),
            (F.col("nn") * F.col("agree") - F.col("chance"))
            .cast("long")
            .alias("kappa_num"),
            (F.col("nn") * F.col("nn") - F.col("chance"))
            .cast("long")
            .alias("kappa_den"),
        )
    )


# ------------------------ water-filling token-budget allocation --


@query(
    "waterfill_budget_allocation",
    oracle="""
    WITH totals AS (
        SELECT source,
               CAST(sum(len(regexp_extract_all(text, '\\S+')))
                    AS BIGINT) AS total_tokens
        FROM documents GROUP BY source
    ),
    b AS (
        SELECT CAST(sum(total_tokens) // 2 AS BIGINT) AS budget,
               count(*) AS n FROM totals
    ),
    ranked AS (
        SELECT source, total_tokens,
               row_number() OVER (
                   ORDER BY total_tokens, source) AS rk,
               sum(total_tokens) OVER (
                   ORDER BY total_tokens, source
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS pfx
        FROM totals
    ),
    istar AS (
        SELECT coalesce(max(rk), 0) AS i,
               coalesce(max(pfx), 0) AS pi
        FROM ranked, b
        WHERE pfx + total_tokens * (b.n - rk) <= b.budget
    ),
    level AS (
        SELECT CASE WHEN b.n > istar.i
                    THEN (b.budget - istar.pi) // (b.n - istar.i)
                    ELSE (SELECT max(total_tokens) FROM totals)
               END AS lvl,
               CASE WHEN b.n > istar.i
                    THEN (b.budget - istar.pi) % (b.n - istar.i)
                    ELSE 0 END AS rem,
               istar.i AS i
        FROM b, istar
    ),
    unsat AS (
        SELECT r.source,
               row_number() OVER (ORDER BY r.source) AS urk
        FROM ranked r, level l WHERE r.rk > l.i
    )
    SELECT r.source,
           r.total_tokens,
           CAST(CASE WHEN r.rk <= l.i THEN r.total_tokens
                     ELSE l.lvl + CASE WHEN u.urk <= l.rem
                                       THEN 1 ELSE 0 END
                END AS BIGINT) AS allocated_tokens,
           r.rk <= l.i AS saturated,
           CAST(l.lvl AS BIGINT) AS level
    FROM ranked r
    CROSS JOIN level l
    LEFT JOIN unsat u ON u.source = r.source
    """,
)
def waterfill_budget_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WATER-FILLING TOKEN-BUDGET ALLOCATION — the fair-share
    planner for a capped training-token budget across sources: every
    source is filled to a common integer LEVEL, a source with fewer
    tokens than the level is taken whole (saturated), and the
    remainder r < #unsaturated goes +1 to the lexicographically
    first unsaturated sources (the deterministic tie rule). This is
    the max-min-fair twin of the graduated largest-remainder quota
    planner: quotas apportion by WEIGHT, water-filling caps by
    AVAILABILITY — together they are how production mixture budgets
    are actually drawn. Budget = floor(total/2) so the partial
    regime is always exercised. The level-feasibility identity
    (prefix_i + T_i·(n−i) ≤ B picks i*, then L = (B−P_{i*}) div
    (n−i*), and L+1 never exceeds the next total) is integer-exact
    in both engines.

    Scale shape: one per-source aggregate (the only row-grain
    shuffle), then ALL algebra on the #sources-bounded frame —
    window functions over a constant-size frame, broadcast level
    join-back. The 100 TB cost is the token count, which any
    mixture pass already pays.

    Reference basis: selection/apportion family
    (token_budget_selection r4 flagship, mixture_quota_largest_
    remainder r11, curriculum_token_budget_phases r13)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_tokens

    docs = load_table(spark, sf_dir, "documents")
    totals = docs.groupBy("source").agg(
        F.sum(F.size(F.expr(spark_tokens("text"))))
        .cast("long")
        .alias("total_tokens")
    )
    # bounded frame from here on (#sources rows)
    w_rank = Window.orderBy("total_tokens", "source")
    ranked = totals.select(
        "source",
        "total_tokens",
        F.row_number().over(w_rank).alias("rk"),
        F.sum("total_tokens")
        .over(w_rank.rowsBetween(Window.unboundedPreceding, 0))
        .alias("pfx"),
    )
    glob = ranked.agg(
        (F.sum("total_tokens") / 2).cast("long").alias("budget"),
        F.count(F.lit(1)).alias("n"),
        F.max("total_tokens").alias("tmax"),
    )
    r = ranked.crossJoin(F.broadcast(glob))
    feas = r.where(
        F.col("pfx") + F.col("total_tokens") * (F.col("n") - F.col("rk"))
        <= F.col("budget")
    ).agg(
        F.coalesce(F.max("rk"), F.lit(0)).alias("i"),
        F.coalesce(F.max("pfx"), F.lit(0)).alias("pi"),
    )
    level = (
        glob.crossJoin(F.broadcast(feas))
        .select(
            F.when(
                F.col("n") > F.col("i"),
                F.floor(
                    (F.col("budget") - F.col("pi"))
                    / (F.col("n") - F.col("i"))
                ),
            )
            .otherwise(F.col("tmax"))
            .cast("long")
            .alias("lvl"),
            F.when(
                F.col("n") > F.col("i"),
                (F.col("budget") - F.col("pi"))
                % (F.col("n") - F.col("i")),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("rem"),
            F.col("i"),
        )
    )
    out = ranked.crossJoin(F.broadcast(level))
    # rank the UNSATURATED subset by source name (bounded frame) so
    # the remainder's +1 lands on the lexicographically first ones
    unsat_rk = (
        out.where(F.col("rk") > F.col("i"))
        .select(
            "source",
            F.row_number().over(Window.orderBy("source")).alias("u2"),
        )
    )
    return (
        out.join(unsat_rk, "source", "left")
        .select(
            "source",
            "total_tokens",
            F.when(F.col("rk") <= F.col("i"), F.col("total_tokens"))
            .otherwise(
                F.col("lvl")
                + F.when(F.col("u2") <= F.col("rem"), 1).otherwise(0)
            )
            .cast("long")
            .alias("allocated_tokens"),
            (F.col("rk") <= F.col("i")).alias("saturated"),
            F.col("lvl").alias("level"),
        )
    )


# ----------------------- 2-hop neighborhood aggregation (dup graph) --


def _twohop_oracle(k: int = 16, bands: int = 4, n: int = 3) -> str:
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
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a
        JOIN banded b ON a.band_idx = b.band_idx AND a.bh = b.bh
                      AND a.doc_id < b.doc_id
    ), edges AS (
        SELECT doc_a AS u, doc_b AS v FROM cand
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM cand
    ), deg AS (
        SELECT u AS doc, count(*) AS degree FROM edges GROUP BY u
    )
    SELECT e.u AS doc_id,
           CAST(d0.degree AS BIGINT) AS degree,
           CAST(sum(dn.degree) AS BIGINT) AS two_hop_degree_sum,
           CAST(max(dn.degree) AS BIGINT) AS max_neighbor_degree
    FROM edges e
    JOIN deg d0 ON d0.doc = e.u
    JOIN deg dn ON dn.doc = e.v
    GROUP BY e.u, d0.degree
    """


@query("graph_2hop_degree_sum", oracle=_twohop_oracle())
def graph_2hop_degree_sum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """2-HOP NEIGHBORHOOD AGGREGATION on the near-dup graph — one
    round of GNN-style message passing (each node sums and maxes its
    neighbors' degrees): the feature every graph-based quality/
    influence scorer starts from, and the access pattern (gather
    over edges, aggregate at the destination) that distinguishes
    graph workloads from relational ones. Per doc with ≥1 candidate
    partner: its own degree, Σ neighbor degrees, max neighbor degree.

    Scale shape: edges come from the audited LSH bucket join (never
    all-pairs); degrees are one edge-grain aggregate; the 2-hop
    gather is ONE self-join of the edge list against the bounded
    degree frame, keyed on node ids (uniform by construction). At
    100 TB this is 2·|E| rows through two hash exchanges — the
    standard one-superstep Pregel cost, no iteration.

    Reference basis: dup-graph family (dup_graph_degree_stats r8,
    dupgraph_triangle_count / pagerank / kcore r12 TAIL,
    cc_hash_to_min_pointer_jump r13 — this adds the neighborhood-
    aggregation primitive those algorithms compose)."""
    from sparkksqldbbenchmark_spark.llm.dedup import lsh_banded_buckets

    docs = load_table(spark, sf_dir, "documents")
    _, buckets = lsh_banded_buckets(docs, "text", "doc_id")
    a = buckets.select(
        F.col("doc_id").alias("doc_a"), "band_idx", "bh"
    )
    b = buckets.select(
        F.col("doc_id").alias("doc_b"), "band_idx", "bh"
    )
    cand = (
        a.join(b, ["band_idx", "bh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # r18 (guide §2.4/§5, the pagerank/pregel recipe): the whole
    # MinHash/banding subtree above had NO barrier and re-ran once per
    # consumer; the symmetric edge list is checkpointed ONCE,
    # pre-partitioned on the gather key v so the degree attach below
    # is exchange-free on the edge side.
    edges = (
        cand.select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        )
        .unionAll(
            cand.select(
                F.col("doc_b").alias("u"), F.col("doc_a").alias("v")
            )
        )
        .repartition(F.col("v"))
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy(F.col("u").alias("v")).agg(
        F.count(F.lit(1)).alias("dn")
    )
    # deg(u) = |edge rows with that u| = the gather group's own row
    # count, so the second degree join of the old form is redundant —
    # degree comes free as count(1) in the same aggregate (identical
    # integer: every edge row matches exactly one deg(v) row).
    return (
        edges.join(deg.hint("shuffle_hash"), "v")
        .groupBy(F.col("u").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("degree"),
            F.sum("dn").cast("long").alias("two_hop_degree_sum"),
            F.max("dn").cast("long").alias("max_neighbor_degree"),
        )
        .select(
            "doc_id",
            "degree",
            "two_hop_degree_sum",
            "max_neighbor_degree",
        )
    )


# ---------------------------------- data-retention expiry plan --


@query(
    "data_retention_expiry_plan",
    oracle="""
    WITH cutoff AS (SELECT max(ts) AS now FROM events),
    ttl AS (
        SELECT e.*,
               CASE e.event_type
                    WHEN 'click' THEN 30
                    WHEN 'view' THEN 7
                    WHEN 'error' THEN 14
                    ELSE 90
               END AS ttl_days,
               c.now
        FROM events e CROSS JOIN cutoff c
    ),
    marked AS (
        SELECT event_type, ttl_days,
               CASE WHEN ts < now - ttl_days * INTERVAL 1 DAY
                    THEN 1 ELSE 0 END AS expired,
               CASE WHEN ts < now - ttl_days * INTERVAL 1 DAY
                    THEN date_diff('day',
                         CAST(date_trunc('day', ts) AS DATE),
                         CAST(date_trunc('day', now) AS DATE))
                         - ttl_days
               END AS days_overdue
        FROM ttl
    )
    SELECT event_type,
           CAST(max(ttl_days) AS BIGINT) AS ttl_days,
           count(*) AS n_rows,
           CAST(sum(expired) AS BIGINT) AS n_expired,
           CAST(sum(expired) * 1000000 // count(*) AS BIGINT)
               AS expired_micros,
           CAST(max(days_overdue) AS BIGINT) AS max_days_overdue
    FROM marked GROUP BY event_type
    """,
)
def data_retention_expiry_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DATA-RETENTION EXPIRY PLAN — the TTL sweep every governed
    lake runs nightly: per event type, a policy TTL (clicks 30d,
    views 7d, errors 14d, everything else 90d), rows older than
    max(ts) − TTL are due for deletion; the plan reports volumes,
    the expired fraction (exact integer micros), and the worst
    overdue age in days — the numbers a deletion job is sized and
    audited by, computed BEFORE any destructive pass runs.

    Scale shape: one scalar max(ts) (broadcast), one scan with the
    TTL CASE fused into it, one per-type aggregate. On a
    date-partitioned lake the ts predicate is partition-pruning —
    the sweep reads only candidate partitions.

    Reference basis: governance family (right_to_erasure_cascade
    r13, subject_access_export r13, dq_expectation_audit r13 — this
    adds the retention-policy member; P4 validity predicates are the
    same scan-side filter discipline)."""
    ev = load_table(spark, sf_dir, "events")
    now = ev.agg(F.max("ts").alias("now"))
    ttl = F.when(F.col("event_type") == "click", 30).when(
        F.col("event_type") == "view", 7
    ).when(F.col("event_type") == "error", 14).otherwise(90)
    marked = ev.crossJoin(F.broadcast(now)).select(
        "event_type",
        ttl.alias("ttl_days"),
        F.when(
            F.col("ts")
            < F.col("now") - ttl * F.expr("INTERVAL 1 DAY"),
            1,
        )
        .otherwise(0)
        .alias("expired"),
        F.when(
            F.col("ts")
            < F.col("now") - ttl * F.expr("INTERVAL 1 DAY"),
            F.datediff(
                F.to_date(F.date_trunc("day", F.col("now"))),
                F.to_date(F.date_trunc("day", F.col("ts"))),
            )
            - ttl,
        ).alias("days_overdue"),
    )
    return marked.groupBy("event_type").agg(
        F.max("ttl_days").cast("long").alias("ttl_days"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("expired").cast("long").alias("n_expired"),
        F.floor(
            F.sum("expired") * 1000000 / F.count(F.lit(1))
        )
        .cast("long")
        .alias("expired_micros"),
        F.max("days_overdue").cast("long").alias("max_days_overdue"),
    )


# ------------------- Bloom-prefiltered decontamination, certified --


def _bloom_decontam_oracle(m: int = 4096, k: int = 3) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import (
        sql_md5_int,
        sql_word_shingles,
    )

    split = f"({sql_md5_int('CAST(doc_id AS VARCHAR)')} % 2)"
    sh = sql_word_shingles("text", 3)
    h = sql_md5_int("(CAST(j.j AS VARCHAR) || '#' || s.sh)")
    ht = sql_md5_int("(CAST(j.j AS VARCHAR) || '#' || t.sh)")
    return f"""
    WITH train_sh AS (
        SELECT DISTINCT unnest({sh}) AS sh
        FROM documents WHERE {split} = 0
    ),
    tpos AS (
        SELECT ({h} % {m}) AS p
        FROM train_sh s, (SELECT unnest(range({k})) AS j) j
    ),
    bloom AS (
        SELECT p // 32 AS word,
               CAST(bit_or(1 << (p % 32)) AS BIGINT) AS bits
        FROM tpos GROUP BY p // 32
    ),
    test_sh AS (
        SELECT source, doc_id, unnest({sh}) AS sh
        FROM documents WHERE {split} = 1
    ),
    probes AS (
        SELECT t.source, t.doc_id, t.sh, ({ht} % {m}) AS p
        FROM test_sh t, (SELECT unnest(range({k})) AS j) j
    ),
    bits AS (
        SELECT pr.source, pr.doc_id, pr.sh,
               CASE WHEN b.bits IS NOT NULL
                         AND (b.bits & (1 << (pr.p % 32))) != 0
                    THEN 1 ELSE 0 END AS hit
        FROM probes pr LEFT JOIN bloom b ON b.word = pr.p // 32
    ),
    per_shingle AS (
        SELECT source, doc_id, sh,
               CASE WHEN sum(hit) = {k} THEN 1 ELSE 0 END AS bloom_hit
        FROM bits GROUP BY source, doc_id, sh
    ),
    judged AS (
        SELECT ps.source, ps.doc_id, ps.bloom_hit,
               CASE WHEN tr.sh IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
        FROM per_shingle ps
        LEFT JOIN train_sh tr ON tr.sh = ps.sh
    ),
    per_doc AS (
        SELECT source, doc_id,
               count(*) AS n_sh,
               sum(bloom_hit) AS n_bloom,
               sum(exact_hit) AS n_exact,
               sum(CASE WHEN bloom_hit = 1 AND exact_hit = 0
                        THEN 1 ELSE 0 END) AS n_fp,
               sum(CASE WHEN bloom_hit = 0 AND exact_hit = 1
                        THEN 1 ELSE 0 END) AS n_fn
        FROM judged GROUP BY source, doc_id
    )
    SELECT source,
           count(*) AS n_test_docs,
           CAST(sum(n_sh) AS BIGINT) AS n_shingles_probed,
           CAST(sum(n_bloom) AS BIGINT) AS n_bloom_hits,
           CAST(sum(n_exact) AS BIGINT) AS n_exact_hits,
           CAST(sum(n_fp) AS BIGINT) AS n_false_positives,
           CAST(sum(n_fn) AS BIGINT) AS n_false_negatives,
           CAST(sum(CASE WHEN n_exact > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_contaminated,
           CAST(sum(CASE WHEN n_bloom > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_flagged
    FROM per_doc GROUP BY source
    """


@query(
    "decontam_bloom_prefilter_certified",
    oracle=_bloom_decontam_oracle(),
)
def decontam_bloom_prefilter_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BLOOM-PREFILTERED DECONTAMINATION, certified — the scale form
    of eval-set decontamination: the train split's word-3-shingle
    set compresses into a 4096-bit / 3-hash Bloom that BROADCASTS
    where the shingle set cannot, and every test-split shingle
    probes it scan-side; only Bloom-flagged shingles would proceed
    to the exact containment join in production. The row grades the
    certificate: per source, probed/flagged/exact counts, FALSE
    POSITIVES (the sketch's measured price — the wasted exact-join
    work) and FALSE NEGATIVES graded as a VALUE that must be 0 (a
    Bloom never misses: the guarantee decontamination correctness
    rests on). The deliberately small m makes saturation observable
    across SFs, exactly like the graduated order-side Bloom row.

    Scale shape: the 100 TB decontamination pattern — the eval/test
    shingle universe is data-scale, but the Bloom stays kilobytes
    and the probe is scan-side integer arithmetic + a <=128-row
    broadcast join; the exact join here runs over ALL test shingles
    only to measure FP/FN (in production it runs over the flagged
    sliver, which is the point of the sketch).

    Reference basis: decontamination family (decontam_ngram_overlap
    r4, split_leakage_near_dup_audit r13, decontam_max_span r11
    TAIL; sketch side: bloom_prefilter_fpr_certified r13)."""
    from sparkksqldbbenchmark_spark.llm.hashing import (
        spark_md5_int,
        spark_word_shingles,
    )

    m, k = 4096, 3
    docs = load_table(spark, sf_dir, "documents")
    split = F.expr(
        f"{spark_md5_int('cast(doc_id as string)')} % 2"
    )
    sh = F.expr(spark_word_shingles("text", 3))
    train_sh = (
        docs.where(split == 0)
        .select(F.explode(sh).alias("sh"))
        .distinct()
    )
    j = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j")
    hp = (
        "("
        + spark_md5_int("concat(cast(j as string), '#', sh)")
        + f") % {m}"
    )
    bloom = (
        train_sh.select("sh", j)
        .select(F.expr(hp).alias("p"))
        .groupBy(F.expr("p DIV 32").alias("word"))
        .agg(
            F.expr("bit_or(shiftleft(1L, cast(p % 32 as int)))")
            .cast("long")
            .alias("bits")
        )
    )
    test_sh = docs.where(split == 1).select(
        "source", "doc_id", F.explode(sh).alias("sh")
    )
    probes = test_sh.select("source", "doc_id", "sh", j).select(
        "source", "doc_id", "sh", F.expr(hp).alias("p")
    )
    bits = probes.join(
        F.broadcast(bloom), F.expr("word = p DIV 32"), "left"
    ).select(
        "source",
        "doc_id",
        "sh",
        F.when(
            F.col("bits").isNotNull()
            & (
                F.expr("bits & shiftleft(1L, cast(p % 32 as int))")
                != 0
            ),
            1,
        )
        .otherwise(0)
        .alias("hit"),
    )
    per_shingle = bits.groupBy("source", "doc_id", "sh").agg(
        F.when(F.sum("hit") == k, 1).otherwise(0).alias("bloom_hit")
    )
    judged = per_shingle.join(
        train_sh.select(F.col("sh"), F.lit(1).alias("ex")),
        "sh",
        "left",
    ).select(
        "source",
        "doc_id",
        "bloom_hit",
        F.coalesce(F.col("ex"), F.lit(0)).alias("exact_hit"),
    )
    per_doc = judged.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        F.sum("bloom_hit").alias("n_bloom"),
        F.sum("exact_hit").alias("n_exact"),
        F.sum(
            F.when(
                (F.col("bloom_hit") == 1) & (F.col("exact_hit") == 0),
                1,
            ).otherwise(0)
        ).alias("n_fp"),
        F.sum(
            F.when(
                (F.col("bloom_hit") == 0) & (F.col("exact_hit") == 1),
                1,
            ).otherwise(0)
        ).alias("n_fn"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_test_docs"),
        F.sum("n_sh").cast("long").alias("n_shingles_probed"),
        F.sum("n_bloom").cast("long").alias("n_bloom_hits"),
        F.sum("n_exact").cast("long").alias("n_exact_hits"),
        F.sum("n_fp").cast("long").alias("n_false_positives"),
        F.sum("n_fn").cast("long").alias("n_false_negatives"),
        F.sum(F.when(F.col("n_exact") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_docs_contaminated"),
        F.sum(F.when(F.col("n_bloom") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_docs_flagged"),
    )


# --------------------- b-bit minwise estimate on LSH candidates --


def _bbit_oracle(k: int = 64, bands: int = 4, n: int = 3) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import (
        sql_minhash_sig,
        sql_word_shingles,
    )

    bsig = 16 // bands  # the bucketing signature stays k=16/(4 bands)
    sh = sql_word_shingles("text", n)
    return f"""
    WITH sh AS (
        SELECT doc_id, {sh} AS shingles FROM documents
    ), sigged AS (
        SELECT doc_id, {sql_minhash_sig("shingles", 16)} AS sig
        FROM sh
    ), banded AS (
        SELECT doc_id, b AS band_idx,
               md5(array_to_string(list_transform(
                   sig[b*{bsig}+1 : b*{bsig}+{bsig}],
                   x -> CAST(x AS VARCHAR)), '-')) AS bh
        FROM sigged, range(0, {bands}) t(b)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a
        JOIN banded b ON a.band_idx = b.band_idx AND a.bh = b.bh
                      AND a.doc_id < b.doc_id
    ), wide AS (
        SELECT doc_id, {sql_minhash_sig("shingles", k)} AS wsig,
               shingles
        FROM sh
    )
    SELECT c.doc_a, c.doc_b,
           CAST(length(list_intersect(wa.shingles, wb.shingles))
                * 1000000
                // (length(wa.shingles) + length(wb.shingles)
                    - length(list_intersect(wa.shingles,
                                            wb.shingles)))
                AS BIGINT) AS jaccard_micros,
           CAST(list_sum(list_transform(
                list_zip(wa.wsig, wb.wsig),
                x -> CASE WHEN (x[1] & 1) = (x[2] & 1)
                          THEN 1 ELSE 0 END)) AS BIGINT)
               AS agree_bits,
           CAST(greatest(0,
                (2 * list_sum(list_transform(
                     list_zip(wa.wsig, wb.wsig),
                     x -> CASE WHEN (x[1] & 1) = (x[2] & 1)
                               THEN 1 ELSE 0 END)) - {k})
                * 1000000 // {k}) AS BIGINT) AS est_micros
    FROM cand c
    JOIN wide wa ON wa.doc_id = c.doc_a
    JOIN wide wb ON wb.doc_id = c.doc_b
    """


@query(
    "bbit_minwise_estimate_on_candidates", oracle=_bbit_oracle()
)
def bbit_minwise_estimate_on_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """b-BIT MINWISE HASHING (b=1, Li & König) on the LSH candidate
    pairs — the signature-compression lever for corpus-scale dedup:
    keeping only the LOWEST BIT of each of 64 minhashes shrinks the
    signature 32× (64 bits vs 64 ints), and the agreement count still
    estimates Jaccard via E[agree/k] = (1+J)/2, i.e. Ĵ = 2·agree/k−1.
    Per candidate pair the row grades the exact shingle Jaccard
    (integer micros), the integer bit-agreement count, and the
    clamped 1-bit estimate — the data that decides whether the
    32×-smaller signature is accurate enough to replace the full one
    at a given verify threshold.

    Scale shape: the wide (k=64) signature is ONE scan-side fold per
    doc (md5 once per shingle, affine per seed — zero exchanges);
    candidates come from the audited banded bucket join, never
    all-pairs; the estimate is codegen zip_with arithmetic on the
    joined pair frame. The whole row adds no exchange the dedup
    pipeline does not already pay.

    Reference basis: dedup-certificate family
    (minhash_estimate_error_certified r10 grades the full-int
    estimator; lsh_band_sensitivity_audit r13 grades the banding
    operating point; this grades the signature-width axis)."""
    from sparkksqldbbenchmark_spark.llm.dedup import lsh_banded_buckets
    from sparkksqldbbenchmark_spark.llm.hashing import spark_minhash_sig

    k = 64
    docs = load_table(spark, sf_dir, "documents")
    shingle_side, buckets = lsh_banded_buckets(
        docs, "text", "doc_id"
    )
    wide = shingle_side.select(
        "doc_id",
        "shingles",
        F.expr(spark_minhash_sig("shingles", k)).alias("wsig"),
    )
    a = buckets.select(
        F.col("doc_id").alias("doc_a"), "band_idx", "bh"
    )
    b = buckets.select(
        F.col("doc_id").alias("doc_b"), "band_idx", "bh"
    )
    cand = (
        a.join(b, ["band_idx", "bh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    paired = cand.join(
        wide.select(
            F.col("doc_id").alias("doc_a"),
            F.col("shingles").alias("sh_a"),
            F.col("wsig").alias("sig_a"),
        ),
        "doc_a",
    ).join(
        wide.select(
            F.col("doc_id").alias("doc_b"),
            F.col("shingles").alias("sh_b"),
            F.col("wsig").alias("sig_b"),
        ),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    agree = F.expr(
        "size(filter(zip_with(sig_a, sig_b,"
        " (x, y) -> (x & 1) = (y & 1)), z -> z))"
    )
    return paired.select(
        "doc_a",
        "doc_b",
        F.expr(
            f"cast(size(array_intersect(sh_a, sh_b)) * 1000000"
            f" div (size(sh_a) + size(sh_b)"
            f"      - size(array_intersect(sh_a, sh_b))) as bigint)"
        ).alias("jaccard_micros"),
        agree.cast("long").alias("agree_bits"),
        F.greatest(
            F.lit(0),
            ((agree * 2 - k) * 1000000 / k).cast("long"),
        )
        .cast("long")
        .alias("est_micros"),
    )


# ----------------------- audio decimation over the WAV codec --


@query(
    "audio_decimate_boxcar",
    oracle="""
    WITH ids AS (
        SELECT doc_id, doc_id % 50 + 10 AS n
        FROM documents WHERE doc_id < 400
    ),
    samp AS (
        SELECT doc_id, n, unnest(range(0, n)) AS i
        FROM ids
    ),
    vals AS (
        SELECT doc_id, n, i,
               (31 * doc_id + 17 * i) % 65536 - 32768 AS s
        FROM samp
    ),
    pairs AS (
        SELECT doc_id, n, i // 2 AS j,
               CAST(floor(sum(s) / 2.0) AS BIGINT) AS o
        FROM vals WHERE i < (n // 2) * 2
        GROUP BY doc_id, n, i // 2
    ),
    outs AS (
        SELECT doc_id,
               count(*) AS n_out,
               sum(o) AS sum_out,
               min(CASE WHEN j = 0 THEN o END) AS first_out,
               min(CASE WHEN j = (SELECT max(j) FROM pairs p2
                                  WHERE p2.doc_id = pairs.doc_id)
                        THEN o END) AS last_out
        FROM pairs GROUP BY doc_id
    ),
    ins AS (
        SELECT doc_id, CAST(n AS BIGINT) AS n_in,
               CAST(sum(s) AS BIGINT) AS sum_in
        FROM vals GROUP BY doc_id, n
    )
    SELECT i.doc_id, i.n_in,
           CAST(o.n_out AS BIGINT) AS n_out,
           i.sum_in,
           CAST(o.sum_out AS BIGINT) AS sum_out,
           CAST(o.first_out AS BIGINT) AS first_out,
           CAST(o.last_out AS BIGINT) AS last_out
    FROM ins i JOIN outs o ON o.doc_id = i.doc_id
    """,
)
def audio_decimate_boxcar(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AUDIO DECIMATION through the REAL WAV codec — the 2:1
    downsample every speech-data pipeline runs before feature
    extraction, executed as decode → integer boxcar (out_j =
    floor((s_2j + s_2j+1)/2), trailing odd sample dropped) →
    RE-ENCODE → decode again, all inside one mapInPandas chain over
    Arrow batches: the round-trip proves the ENCODER under the
    decimated payload, not just the decoder. Fixture WAVs are the
    graded multimodal convention (sample_i = (31·id + 17i) mod 2^16 −
    32768), so the oracle recomputes every statistic analytically
    with no decoder at all — a wrong RIFF header, stride, or floor
    convention shifts sum_out/first/last and fails the hash.

    Scale shape: blobs never leave the executors and never shuffle;
    only fixed-size per-blob statistics reach the result — the 100 TB
    media-pipeline contract (the resize/frame-sample rows' shape,
    extended to the audio axis the codec family lacked).

    Reference basis: multimodal family (multimodal_decode_roundtrip
    r5 flagship, multimodal_resize r4, video_mjpeg_frame_extract r10
    TAIL — this adds the audio TRANSFORM member)."""
    from collections.abc import Iterator

    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_in", LongType()),
            StructField("n_out", LongType()),
            StructField("sum_in", LongType()),
            StructField("sum_out", LongType()),
            StructField("first_out", LongType()),
            StructField("last_out", LongType()),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        from sparkksqldbbenchmark_spark.llm import codecs

        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = did % 50 + 10
                samples = [
                    (31 * did + 17 * i) % 65536 - 32768
                    for i in range(n)
                ]
                wav = codecs.encode_wav(samples)
                _, _, s_in = codecs.decode_wav(wav)
                dec = [
                    (s_in[2 * j] + s_in[2 * j + 1]) // 2
                    for j in range(len(s_in) // 2)
                ]
                wav2 = codecs.encode_wav(dec)
                _, _, s_out = codecs.decode_wav(wav2)
                rows.append(
                    (
                        did,
                        len(s_in),
                        len(s_out),
                        sum(s_in),
                        sum(s_out),
                        s_out[0],
                        s_out[-1],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_in", "n_out", "sum_in",
                    "sum_out", "first_out", "last_out",
                ],
            )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 400
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id")
    ).mapInPandas(batches, schema)


# ------------- Johnson-Lindenstrauss projection distance audit --


def _jl_signs(k: int = 8, d: int = 64) -> list[list[int]]:
    """Deterministic Rademacher ±1 matrix from md5 — a compile-time
    constant shared literal-for-literal by both engines (no per-row
    hashing in either plan)."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{h}#{j}".encode()).hexdigest()[:15], 16
            )
            & 1
            == 0
            else -1
            for j in range(d)
        ]
        for h in range(k)
    ]


def _jl_oracle(k: int = 8, d: int = 64) -> str:
    s = _jl_signs(k, d)
    lit = (
        "["
        + ", ".join(
            "[" + ", ".join(str(v) for v in row) + "]" for row in s
        )
        + "]"
    )
    return f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(x * 1000) AS BIGINT)) AS q
        FROM embeddings
    ),
    proj AS (
        SELECT vec_id, q,
               list_transform({lit}, row ->
                   list_sum(list_transform(list_zip(row, q),
                       x -> x[1] * x[2]))) AS p
        FROM q
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(list_sum(list_transform(list_zip(a.q, b.q),
                x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT)
               AS d2_orig,
           CAST(list_sum(list_transform(list_zip(a.p, b.p),
                x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT)
               AS d2_proj,
           CAST(list_sum(list_transform(list_zip(a.p, b.p),
                x -> (x[1] - x[2]) * (x[1] - x[2]))) * 1000000
                // ({k} * list_sum(list_transform(list_zip(a.q, b.q),
                    x -> (x[1] - x[2]) * (x[1] - x[2]))))
                AS BIGINT) AS ratio_micros
    FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
    WHERE a.vec_id % 5 = 0
    """


@query(
    "jl_projection_distance_certified", oracle=_jl_oracle()
)
def jl_projection_distance_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JOHNSON-LINDENSTRAUSS RANDOM PROJECTION distance audit — the
    cheapest dimensionality-reduction lever at 100 TB (64 → 8 dims by
    a ±1 Rademacher matrix: no training, no SVD, a constant matrix
    every executor holds): for a Rademacher R, E‖Rx‖² = k·‖x‖², so
    the measured ratio d²_proj / (k·d²_orig) certifies how much
    pairwise geometry the compression keeps BEFORE a pipeline trusts
    8-dim sketches for blocking or ANN routing. Embeddings quantize
    to integer millis first (the repo's embedding convention), the
    sign matrix is a compile-time md5 constant shared
    literal-for-literal with the oracle, and every distance and
    ratio is exact integer arithmetic — the graded rows are the
    measured concentration, pair by deterministic pair.

    Scale shape: projection is a scan-side fold (zip_with + sum per
    output dim, zero exchanges, no per-row hashing — the matrix is a
    plan literal); the audited pairs are an equi-join on vec_id+1
    (no pair explosion). At 100 TB the projection cost is one scan —
    exactly why JL precedes any quadratic geometry work.

    Reference basis: embedding family (embedding_quantization r5,
    pq_quantization_error r7 TAIL, pca_power_iteration_1d r12 TAIL —
    this adds the data-independent projection member; PCA learns the
    basis, JL doesn't have to)."""
    k = 8
    signs = _jl_signs(k, 64)
    lit = (
        "array("
        + ", ".join(
            "array(" + ", ".join(str(v) for v in row) + ")"
            for row in signs
        )
        + ")"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> cast(floor(x * 1000) as bigint))"
        ).alias("q"),
    )
    proj = q.select(
        "vec_id",
        "q",
        F.expr(
            f"transform({lit}, row ->"
            " aggregate(zip_with(row, q, (s, x) -> s * x),"
            " 0L, (a, y) -> a + y))"
        ).alias("p"),
    )
    a = proj.select(
        F.col("vec_id").alias("vec_a"),
        F.col("q").alias("qa"),
        F.col("p").alias("pa"),
    ).where(F.col("vec_a") % 5 == 0)
    b = proj.select(
        F.col("vec_id").alias("vec_b"),
        F.col("q").alias("qb"),
        F.col("p").alias("pb"),
    )
    d2o = F.expr(
        "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)),"
        " 0L, (a, v) -> a + v)"
    )
    d2p = F.expr(
        "aggregate(zip_with(pa, pb, (x, y) -> (x - y) * (x - y)),"
        " 0L, (a, v) -> a + v)"
    )
    return (
        a.join(b, F.col("vec_b") == F.col("vec_a") + 1)
        .select(
            "vec_a",
            "vec_b",
            d2o.cast("long").alias("d2_orig"),
            d2p.cast("long").alias("d2_proj"),
            F.expr(
                "cast(aggregate(zip_with(pa, pb,"
                " (x, y) -> (x - y) * (x - y)), 0L, (a, v) -> a + v)"
                " * 1000000 div"
                f" ({k} * aggregate(zip_with(qa, qb,"
                " (x, y) -> (x - y) * (x - y)), 0L, (a, v) -> a + v))"
                " as bigint)"
            ).alias("ratio_micros"),
        )
    )


# -------------------------------- SFT loss-mask span planning --


def _sft_mask_oracle() -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    h = sql_md5_int("w.w")
    return f"""
    WITH words AS (
        SELECT d.doc_id,
               unnest(regexp_extract_all(d.text, '\\S+')) AS w,
               generate_subscripts(
                   regexp_extract_all(d.text, '\\S+'), 1) AS i
        FROM documents d
    ),
    flagged AS (
        SELECT doc_id, i, w,
               CASE WHEN ({h} & 3) = 0 THEN 1 ELSE 0 END AS f
        FROM words w
    ),
    sids AS (
        SELECT doc_id, i, w,
               coalesce(sum(f) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS sid
        FROM flagged
    ),
    turns AS (
        SELECT doc_id, sid, sid % 2 AS role, count(*) AS len
        FROM sids GROUP BY doc_id, sid
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(CASE WHEN role = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_assistant_turns,
           CAST(sum(CASE WHEN role = 1 THEN len ELSE 0 END)
                AS BIGINT) AS n_loss_tokens,
           CAST(sum(CASE WHEN role = 0 THEN len ELSE 0 END)
                AS BIGINT) AS n_masked_tokens,
           CAST(sum(CASE WHEN role = 1 THEN len ELSE 0 END)
                * 1000000 // sum(len) AS BIGINT)
               AS loss_frac_micros
    FROM turns GROUP BY doc_id
    """


@query("sft_loss_mask_plan", oracle=_sft_mask_oracle())
def sft_loss_mask_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SFT LOSS-MASK PLANNING — the token-accounting pass every
    supervised-finetuning pipeline runs before batching: a rendered
    conversation alternates user/assistant turns, loss is computed
    ONLY on assistant tokens, and the planner must know per document
    how many tokens carry loss vs are masked (a conversation whose
    loss fraction is too low wastes sequence budget and is dropped
    or re-packed). Turns here are the corpus's planted sentence
    boundaries with alternating roles (sid % 2 — user speaks first),
    the same deterministic convention the chunker and Gopher rows
    grade.

    Scale shape: a pure scan-side HOF fold — the (length, role)
    turn list and all four counts derive inside one pass with ZERO
    exchanges of row-grain data; the output is doc-grain. Exactly
    the shape sequence packing consumes upstream.

    Reference basis: packing/curation family (sequence_packing r4
    flagship, conversation_render_budget r11 TAIL,
    sentence_chunk_greedy_fold r13 — this adds the loss-masking
    member between rendering and packing)."""
    from sparkksqldbbenchmark_spark.llm.hashing import (
        spark_md5_int,
        spark_tokens,
    )

    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(spark_tokens("text")).alias("toks")
    ).where(F.size("toks") > 0)
    pairs = (
        f"zip_with(toks, transform(toks, w -> "
        f"({spark_md5_int('w')} & 3) = 0), "
        f"(w, f) -> struct(w as w, f as f))"
    )
    # fold to turn lengths (the chunker's lens recurrence), then the
    # role alternation is just the index parity of each turn
    lens_expr = (
        f"aggregate({pairs},"
        " struct(cast(array() as array<int>) as lens, 0 as cur),"
        " (a, p) -> if(p.f,"
        "   struct(concat(a.lens, array(a.cur + 1)) as lens,"
        "          0 as cur),"
        "   struct(a.lens as lens, a.cur + 1 as cur)),"
        " a -> if(a.cur > 0, concat(a.lens, array(a.cur)), a.lens))"
    )
    staged = toks.withColumn("lens", F.expr(lens_expr))
    n_turns = F.size("lens")
    # assistant turns sit at odd 0-based indices: 1, 3, 5, ...
    loss_toks = F.expr(
        "aggregate(zip_with(lens, sequence(0, size(lens) - 1),"
        " (L, i) -> if(i % 2 = 1, L, 0)), 0, (a, v) -> a + v)"
    )
    all_toks = F.expr("aggregate(lens, 0, (a, v) -> a + v)")
    return staged.select(
        "doc_id",
        n_turns.cast("long").alias("n_turns"),
        F.floor(n_turns / 2).cast("long").alias("n_assistant_turns"),
        loss_toks.cast("long").alias("n_loss_tokens"),
        (all_toks - loss_toks).cast("long").alias("n_masked_tokens"),
        F.expr(
            "cast(aggregate(zip_with(lens,"
            " sequence(0, size(lens) - 1),"
            " (L, i) -> if(i % 2 = 1, L, 0)), 0, (a, v) -> a + v)"
            " * cast(1000000 as bigint)"
            " div aggregate(lens, 0, (a, v) -> a + v) as bigint)"
        ).alias("loss_frac_micros"),
    )


# --------------------- temporal split straddling-session audit --


@query(
    "temporal_split_straddle_audit",
    oracle="""
    WITH b AS (
        SELECT min(ts) + INTERVAL 21 DAY AS boundary FROM events
    ),
    gapped AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) IS NULL
                    OR ts - lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) > INTERVAL 12 HOUR
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ),
    sids AS (
        -- event_id tiebreak (ADVICE r15): duplicate (user_id, ts) rows
        -- where one carries new_s=1 would otherwise make the running
        -- sum order-dependent across engines
        SELECT user_id, ts,
               sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS sid
        FROM gapped
    ),
    sessions AS (
        SELECT user_id, sid,
               min(ts) AS s_start, max(ts) AS s_end,
               count(*) AS n_events,
               sum(CASE WHEN ts >= b.boundary THEN 1 ELSE 0 END)
                   AS n_after
        FROM sids, b GROUP BY user_id, sid, b.boundary
    )
    SELECT CAST(date_trunc('day', s_start) AS DATE) AS session_day,
           count(*) AS n_sessions,
           CAST(sum(CASE WHEN s_start < b.boundary
                          AND s_end >= b.boundary
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_straddling,
           CAST(sum(CASE WHEN s_start < b.boundary
                         THEN n_after ELSE 0 END) AS BIGINT)
               AS leaked_events
    FROM sessions, b
    GROUP BY date_trunc('day', s_start)
    """,
)
def temporal_split_straddle_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TEMPORAL TRAIN/TEST SPLIT — STRADDLING-SESSION AUDIT: the
    time-based split (train < day 21, test >= day 21) is how
    forecasting and ranking pipelines avoid target leakage, but a
    VISIT that starts before the boundary and ends after it leaks
    future events into train-side features. The audit sessionizes
    (30-min gap) and reports, per session-start day, how many
    sessions exist, how many straddle the boundary, and how many
    events LEAK (after-boundary events inside before-boundary
    sessions) — the rows a pipeline must drop or truncate, counted
    BEFORE the split is trusted. The 12-hour visit gap (vs the
    30-minute web-session convention) matches this corpus's sparse
    per-user cadence so the straddle path is exercised at every SF. Complements the graduated
    split_leakage_near_dup_audit: that row audits CONTENT leakage
    across a hash split, this one audits TIME leakage across a
    temporal split.

    Scale shape: one hash exchange on user_id for the session
    window, one scalar boundary broadcast, one bounded rollup by
    day — the cost of sessionization itself, which the pipeline
    already pays.

    Reference basis: sessionization + split-hygiene families
    (batch_sessionize r7 TAIL, hash_split_assignment r2,
    split_leakage_near_dup_audit r13)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        (F.min("ts") + F.expr("INTERVAL 21 DAY")).alias("boundary")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts") - F.lag("ts").over(w)
                > F.expr("INTERVAL 12 HOUR")
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    # event_id tiebreak (ADVICE r15): keep the running-sum ordering
    # total so tied (user_id, ts) rows sessionize identically in both
    # engines
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sids = gapped.select(
        "user_id", "ts", F.sum("new_s").over(w2).alias("sid")
    )
    sessions = (
        sids.crossJoin(F.broadcast(b))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("s_start"),
            F.max("ts").alias("s_end"),
            F.first("boundary").alias("boundary"),
            F.sum(
                F.when(F.col("ts") >= F.col("boundary"), 1).otherwise(0)
            ).alias("n_after"),
        )
    )
    return (
        sessions.groupBy(
            F.to_date(F.date_trunc("day", "s_start")).alias(
                "session_day"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(
                F.when(
                    (F.col("s_start") < F.col("boundary"))
                    & (F.col("s_end") >= F.col("boundary")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_straddling"),
            F.sum(
                F.when(
                    F.col("s_start") < F.col("boundary"),
                    F.col("n_after"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("leaked_events"),
        )
    )


# ------------------- composed curation pipeline v2 (capstone) --


def _curation_v2_oracle() -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    h = sql_md5_int("w.w")
    return f"""
    WITH words AS (
        SELECT d.doc_id, d.source,
               unnest(regexp_extract_all(d.text, '\\S+')) AS w,
               generate_subscripts(
                   regexp_extract_all(d.text, '\\S+'), 1) AS i
        FROM documents d
    ),
    flagged AS (
        SELECT doc_id, source, i, w,
               CASE WHEN ({h} & 3) = 0 THEN 1 ELSE 0 END AS f
        FROM words w
    ),
    sids AS (
        SELECT doc_id, source, i, w,
               coalesce(sum(f) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS sid
        FROM flagged
    ),
    sents AS (
        SELECT doc_id, source, sid,
               string_agg(w, ' ' ORDER BY i) AS s
        FROM sids GROUP BY doc_id, source, sid
    ),
    quality AS (
        SELECT s.doc_id, s.source,
               count(*) AS n_sents,
               count(DISTINCT s.s) AS n_distinct,
               t.n_words
        FROM sents s
        JOIN (SELECT doc_id, count(*) AS n_words FROM words
              GROUP BY doc_id) t ON t.doc_id = s.doc_id
        GROUP BY s.doc_id, s.source, t.n_words
    ),
    keepers AS (
        SELECT q.doc_id, q.source, q.n_words
        FROM quality q
        WHERE (q.n_sents - q.n_distinct) * 1000000 // q.n_sents
              < 300000
    ),
    canon AS (
        SELECT k.doc_id, k.source, k.n_words,
               min(k.doc_id) OVER (PARTITION BY d.md5t)
                   AS canonical_id
        FROM keepers k
        JOIN (SELECT doc_id, md5(text) AS md5t FROM documents) d
          ON d.doc_id = k.doc_id
    ),
    survivors AS (
        SELECT source,
               CAST(sum(n_words) AS BIGINT) AS total_tokens,
               count(*) AS docs_kept
        FROM canon WHERE doc_id = canonical_id
        GROUP BY source
    ),
    b AS (
        SELECT CAST(sum(total_tokens) // 2 AS BIGINT) AS budget,
               count(*) AS n FROM survivors
    ),
    ranked AS (
        SELECT source, total_tokens, docs_kept,
               row_number() OVER (
                   ORDER BY total_tokens, source) AS rk,
               sum(total_tokens) OVER (
                   ORDER BY total_tokens, source
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS pfx
        FROM survivors
    ),
    istar AS (
        SELECT coalesce(max(rk), 0) AS i,
               coalesce(max(pfx), 0) AS pi
        FROM ranked, b
        WHERE pfx + total_tokens * (b.n - rk) <= b.budget
    ),
    level AS (
        SELECT CASE WHEN b.n > istar.i
                    THEN (b.budget - istar.pi) // (b.n - istar.i)
                    ELSE (SELECT max(total_tokens) FROM survivors)
               END AS lvl,
               CASE WHEN b.n > istar.i
                    THEN (b.budget - istar.pi) % (b.n - istar.i)
                    ELSE 0 END AS rem,
               istar.i AS i
        FROM b, istar
    ),
    unsat AS (
        SELECT r.source,
               row_number() OVER (ORDER BY r.source) AS urk
        FROM ranked r, level l WHERE r.rk > l.i
    )
    SELECT r.source,
           CAST(r.docs_kept AS BIGINT) AS docs_kept,
           r.total_tokens,
           CAST(CASE WHEN r.rk <= l.i THEN r.total_tokens
                     ELSE l.lvl + CASE WHEN u.urk <= l.rem
                                       THEN 1 ELSE 0 END
                END AS BIGINT) AS allocated_tokens
    FROM ranked r
    CROSS JOIN level l
    LEFT JOIN unsat u ON u.source = r.source
    """


@query(
    "curation_pipeline_v2_composed", oracle=_curation_v2_oracle()
)
def curation_pipeline_v2_composed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CURATION PIPELINE v2 — the COMPOSED form of this round's
    graduating pieces, proving the operators chain the way a real
    pretraining-data job chains them: (1) the Gopher dup-sentence
    rule drops repetitive docs (scan-side sentence fold), (2) exact
    dedup keeps the canonical (min doc_id per content hash), (3) the
    surviving per-source token totals feed the water-filling budget
    allocator (half the surviving tokens, max-min fair, availability
    capped). Per source: kept docs, surviving tokens, allocated
    tokens — the numbers a mixture board reads. Complements the r1
    curation_pipeline (quality-floor composition); every stage here
    is ALSO graded standalone, so a divergence localizes instantly.

    Scale shape: the fold is scan-side; dedup is one content-hash
    window; the allocator runs on the #sources-bounded frame. The
    composition adds NO exchange beyond its stages' own — the whole
    point of building each stage shuffle-minimal.

    Reference basis: curation family (curation_pipeline r1,
    dedup_keep_best r5, token_budget_selection r4;
    gopher_repetition_rules / waterfill_budget_allocation staged
    this round)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        "text",
        F.expr(spark_tokens("text")).alias("toks"),
    ).where(F.size("toks") > 0)
    # r18 optimization: O(n) boundary/slice sentence counts
    # (llm/sentences.py) replace the O(ns²) fold — identical integers.
    from sparkksqldbbenchmark_spark.llm.sentences import (
        with_sentence_counts,
    )

    quality = with_sentence_counts(toks).select(
        "doc_id",
        "source",
        "text",
        F.size("toks").alias("n_words"),
        "ns",
        "nd",
    )
    keepers = quality.where(
        (F.col("ns") - F.col("nd")) * 1000000 / F.col("ns") < 300000
    )
    canon = keepers.withColumn(
        "canonical_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))),
    )
    survivors = (
        canon.where(F.col("doc_id") == F.col("canonical_id"))
        .groupBy("source")
        .agg(
            F.sum("n_words").cast("long").alias("total_tokens"),
            F.count(F.lit(1)).cast("long").alias("docs_kept"),
        )
    )
    # water-filling over the bounded survivor frame (the staged
    # allocator's algebra, inlined over this pipeline's totals)
    w_rank = Window.orderBy("total_tokens", "source")
    ranked = survivors.select(
        "source",
        "docs_kept",
        "total_tokens",
        F.row_number().over(w_rank).alias("rk"),
        F.sum("total_tokens")
        .over(w_rank.rowsBetween(Window.unboundedPreceding, 0))
        .alias("pfx"),
    )
    glob = ranked.agg(
        (F.sum("total_tokens") / 2).cast("long").alias("budget"),
        F.count(F.lit(1)).alias("n"),
        F.max("total_tokens").alias("tmax"),
    )
    r = ranked.crossJoin(F.broadcast(glob))
    feas = r.where(
        F.col("pfx")
        + F.col("total_tokens") * (F.col("n") - F.col("rk"))
        <= F.col("budget")
    ).agg(
        F.coalesce(F.max("rk"), F.lit(0)).alias("i"),
        F.coalesce(F.max("pfx"), F.lit(0)).alias("pi"),
    )
    level = glob.crossJoin(F.broadcast(feas)).select(
        F.when(
            F.col("n") > F.col("i"),
            F.floor(
                (F.col("budget") - F.col("pi"))
                / (F.col("n") - F.col("i"))
            ),
        )
        .otherwise(F.col("tmax"))
        .cast("long")
        .alias("lvl"),
        F.when(
            F.col("n") > F.col("i"),
            (F.col("budget") - F.col("pi"))
            % (F.col("n") - F.col("i")),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rem"),
        F.col("i"),
    )
    out = ranked.crossJoin(F.broadcast(level))
    unsat_rk = out.where(F.col("rk") > F.col("i")).select(
        "source",
        F.row_number().over(Window.orderBy("source")).alias("u2"),
    )
    return (
        out.join(unsat_rk, "source", "left")
        .select(
            "source",
            "docs_kept",
            "total_tokens",
            F.when(
                F.col("rk") <= F.col("i"), F.col("total_tokens")
            )
            .otherwise(
                F.col("lvl")
                + F.when(F.col("u2") <= F.col("rem"), 1).otherwise(0)
            )
            .cast("long")
            .alias("allocated_tokens"),
        )
    )


# --------------- rendezvous (HRW) shard assignment, certified --


def _rendezvous_oracle(n1: int = 8, n2: int = 9) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    h = sql_md5_int("(CAST(doc_id AS VARCHAR) || '#' || CAST(s AS VARCHAR))")
    # composite integer key: 55-bit weight, 4-bit inverted shard id —
    # higher weight wins, ties break to the LOWEST shard; fits BIGINT
    return f"""
    WITH weights AS (
        SELECT d.doc_id, s.s,
               (({h} & 36028797018963967) * 16 + (15 - s)) AS k
        FROM documents d, (SELECT unnest(range({n2})) AS s) s
    ),
    owner1 AS (
        SELECT doc_id, (max_by(s, k))::BIGINT AS o1
        FROM weights WHERE s < {n1} GROUP BY doc_id
    ),
    owner2 AS (
        SELECT doc_id, (max_by(s, k))::BIGINT AS o2
        FROM weights GROUP BY doc_id
    )
    SELECT o1 AS shard,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN o2 = {n2 - 1} THEN 1 ELSE 0 END)
                AS BIGINT) AS moved_to_new,
           CAST(sum(CASE WHEN o2 != o1 AND o2 != {n2 - 1}
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS moved_elsewhere
    FROM owner1 JOIN owner2 USING (doc_id)
    GROUP BY o1
    """


@query(
    "rendezvous_shard_assignment_certified",
    oracle=_rendezvous_oracle(),
)
def rendezvous_shard_assignment_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RENDEZVOUS (highest-random-weight) SHARDING with the
    minimal-disruption theorem graded as a VALUE: every doc picks the
    shard with the highest md5(doc, shard) weight; when the cluster
    grows 8 → 9 shards, HRW guarantees a key either stays put or
    moves TO THE NEW SHARD — never between old shards. Per old shard:
    doc count, docs moved to the new shard (≈ 1/9 of each, the
    balance property measured exactly), and moved_elsewhere, which
    the oracle and theorem both pin to 0 — a broken tie rule or a
    weight reuse bug flips it nonzero and fails the hash. This is
    how 100 TB stores reshard without a full shuffle.

    Scale shape: both owners fold scan-side (an argmax over 9 hash
    evaluations per doc — no explode, no exchange); the only
    exchange is the ≤8-row rollup. Tie rule: the 55-bit weight and
    the inverted shard id pack into ONE comparable integer (higher
    weight wins, ties to the lowest shard) — the same literal key
    expression in both engines.

    Reference basis: layout/assignment family
    (hash_split_assignment r2, deterministic_corpus_shuffle r7,
    equi_depth_partition_bounds r13 — this adds the
    consistent-assignment member with its disruption certificate)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    n1, n2 = 8, 9
    h = spark_md5_int(
        "concat(cast(doc_id as string), '#', cast(s as string))"
    )
    # composite integer key (the oracle's spelling): 55-bit weight,
    # 4-bit inverted shard id — higher weight wins, ties to LOWEST s
    key = f"(({h} & 36028797018963967) * 16 + (15 - s))"
    own = (
        f"aggregate(sequence(0, {{n}} - 1),"
        f" struct(cast(-1 as bigint) as s, cast(-1 as bigint) as k),"
        f" (a, s) -> if({key} > a.k, struct(cast(s as bigint) as s,"
        f" {key} as k), a), a -> a.s)"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    owners = docs.select(
        "doc_id",
        F.expr(own.format(n=n1)).alias("o1"),
        F.expr(own.format(n=n2)).alias("o2"),
    )
    return owners.groupBy(F.col("o1").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("o2") == n2 - 1, 1).otherwise(0))
        .cast("long")
        .alias("moved_to_new"),
        F.sum(
            F.when(
                (F.col("o2") != F.col("o1"))
                & (F.col("o2") != n2 - 1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("moved_elsewhere"),
    )


# ----------------- truncated-exact average precision (ranking) --


def _ap_oracle() -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    score = sql_md5_int("(CAST(doc_id AS VARCHAR) || '#score')")
    rel = sql_md5_int("(CAST(doc_id AS VARCHAR) || '#rel')")
    return f"""
    WITH scored AS (
        SELECT source, doc_id,
               {score} AS score,
               CASE WHEN {rel} % 5 = 0 THEN 1 ELSE 0 END AS rel
        FROM documents
    ),
    ranked AS (
        SELECT source, rel,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY score DESC, doc_id) AS k,
               sum(rel) OVER (
                   PARTITION BY source
                   ORDER BY score DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
        FROM scored
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(rel) AS BIGINT) AS n_relevant,
           CAST(sum(CASE WHEN rel = 1
                         THEN cum * 1000000 // k ELSE 0 END)
                AS BIGINT) AS ap_num_micros,
           CAST(sum(CASE WHEN rel = 1
                         THEN cum * 1000000 // k ELSE 0 END)
                // sum(rel) AS BIGINT) AS ap_micros
    FROM ranked GROUP BY source
    """


@query("average_precision_exact", oracle=_ap_oracle())
def average_precision_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AVERAGE PRECISION (AP / area under the PR curve) with
    truncated-exact arithmetic — the ranking metric retrieval and
    reranker evaluations report beside AUC: AP = mean over relevant
    docs of precision@their-rank. Scores and relevance are
    deterministic md5 plants (≈20% relevant); each precision@k is
    carried as floor(1e6·cum/k) so both engines sum IDENTICAL
    integers — the statistic is exact by definition rather than
    float-approximate, the repo's certificate discipline applied to
    the PR axis (AUC's rank-sum trick cannot express AP: precision
    is a ratio at every hit, not a pair count).

    Scale shape: one per-source ranking window (the balanced-source
    production form; the leveled two-level rank — rfm_segment_counts
    — is the skew escape hatch) and one per-source rollup. Nothing
    quadratic: AP falls out of ONE ordered pass.

    Reference basis: evaluation family (auc_rank_sum_exact r13
    grades the ROC axis; score_calibration_bins r12 grades
    calibration; this adds the precision-recall axis)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    key_s = "concat(cast(doc_id as string), '#score')"
    key_r = "concat(cast(doc_id as string), '#rel')"
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "doc_id",
        F.expr(spark_md5_int(key_s)).alias("score"),
        F.when(
            F.expr(f"{spark_md5_int(key_r)} % 5") == 0, 1
        )
        .otherwise(0)
        .alias("rel"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), "doc_id"
    )
    ranked = scored.select(
        "source",
        "rel",
        F.row_number().over(w).alias("k"),
        F.sum("rel")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    contrib = F.when(
        F.col("rel") == 1,
        F.expr("cum * cast(1000000 as bigint) div k"),
    ).otherwise(0)
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("rel").cast("long").alias("n_relevant"),
        F.sum(contrib).cast("long").alias("ap_num_micros"),
        F.expr(
            "cast(sum(case when rel = 1"
            " then cum * cast(1000000 as bigint) div k"
            " else 0 end) div sum(rel) as bigint)"
        ).alias("ap_micros"),
    )


# ----------------------------- macro F1, exact integer rationals --


@query(
    "macro_f1_exact",
    oracle="""
    WITH labeled AS (
        SELECT source,
               (('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                   || '#a'), 1, 15))::BIGINT) % 3 AS y_true,
               CASE WHEN (('0x' || substring(md5(
                        CAST(doc_id AS VARCHAR) || '#agree'),
                        1, 15))::BIGINT) % 4 < 3
                    THEN (('0x' || substring(md5(
                        CAST(doc_id AS VARCHAR) || '#a'),
                        1, 15))::BIGINT) % 3
                    ELSE (('0x' || substring(md5(
                        CAST(doc_id AS VARCHAR) || '#b'),
                        1, 15))::BIGINT) % 3
               END AS y_pred
        FROM documents
    ),
    per_class AS (
        SELECT l.source, c.c AS cls,
               sum(CASE WHEN y_true = c.c AND y_pred = c.c
                        THEN 1 ELSE 0 END) AS tp,
               sum(CASE WHEN y_true != c.c AND y_pred = c.c
                        THEN 1 ELSE 0 END) AS fp,
               sum(CASE WHEN y_true = c.c AND y_pred != c.c
                        THEN 1 ELSE 0 END) AS fn
        FROM labeled l, (SELECT unnest(range(3)) AS c) c
        GROUP BY l.source, c.c
    )
    SELECT source, CAST(cls AS BIGINT) AS cls,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CAST(2 * tp AS BIGINT) AS f1_num,
           CAST(2 * tp + fp + fn AS BIGINT) AS f1_den,
           CAST(2 * tp * 1000000 // (2 * tp + fp + fn)
                AS BIGINT) AS f1_micros
    FROM per_class
    """,
)
def macro_f1_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-CLASS F1 as EXACT INTEGER RATIONALS — the classification
    report every labeling / quality-classifier evaluation prints:
    F1_c = 2·TP / (2·TP + FP + FN) carried as the integer pair
    (f1_num, f1_den) plus the floor-micros form, per (source,
    class), over the same planted annotator fixture the kappa row
    grades (y_true = annotator A, y_pred = annotator B) — so
    agreement (kappa), per-class quality (F1) and the raw confusion
    cells all reconcile on one dataset. Completes the evaluation
    family: ROC-AUC (rank-sum), PR-AUC (average precision),
    calibration bins, chi-square, kappa — F1 was the missing member.

    Scale shape: one (source, class)-grain aggregate over a
    3-class broadcast spine — nothing row-grain survives the first
    partial aggregate; |sources|×3 rows of algebra after.

    Reference basis: evaluation family (auc_rank_sum_exact r13,
    cohens_kappa_exact / average_precision_exact staged,
    quality_threshold_sweep_confusion r13 — binary threshold-sweep
    counts; this is the multi-class per-class report)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    key_a = "concat(cast(doc_id as string), '#a')"
    key_route = "concat(cast(doc_id as string), '#agree')"
    key_b = "concat(cast(doc_id as string), '#b')"
    docs = load_table(spark, sf_dir, "documents")
    a = F.expr(f"{spark_md5_int(key_a)} % 3")
    route = F.expr(f"{spark_md5_int(key_route)} % 4")
    b_ind = F.expr(f"{spark_md5_int(key_b)} % 3")
    labeled = docs.select(
        "source",
        a.alias("y_true"),
        F.when(route < 3, a).otherwise(b_ind).alias("y_pred"),
    )
    classes = spark.range(3).select(F.col("id").alias("cls"))
    per_class = (
        labeled.crossJoin(F.broadcast(classes))
        .groupBy("source", "cls")
        .agg(
            F.sum(
                F.when(
                    (F.col("y_true") == F.col("cls"))
                    & (F.col("y_pred") == F.col("cls")),
                    1,
                ).otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when(
                    (F.col("y_true") != F.col("cls"))
                    & (F.col("y_pred") == F.col("cls")),
                    1,
                ).otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when(
                    (F.col("y_true") == F.col("cls"))
                    & (F.col("y_pred") != F.col("cls")),
                    1,
                ).otherwise(0)
            ).alias("fn"),
        )
    )
    return per_class.select(
        "source",
        F.col("cls").cast("long").alias("cls"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        (F.col("tp") * 2).cast("long").alias("f1_num"),
        (F.col("tp") * 2 + F.col("fp") + F.col("fn"))
        .cast("long")
        .alias("f1_den"),
        F.expr(
            "cast(2 * tp * cast(1000000 as bigint)"
            " div (2 * tp + fp + fn) as bigint)"
        ).alias("f1_micros"),
    )
