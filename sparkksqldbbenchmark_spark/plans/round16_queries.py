"""Round-16 graduated cohort: the 25 rows staged during round 15
(formerly plans/next_round.py), registered with the driver-graded
registry at the round-16 rotation per docs/ROTATION_R15.md, plus the
round-16 slot-filler rows landed during round 16.

Every row graduated 3-SF oracle-green (sf0.001/0.01/0.1), vanilla-swept
(CHECK_VANILLA), with a brute-force or property-based second witness
(tests/test_round15_staged.py, tests/test_round15_properties.py — kept
under their staging names, now reading the graduated registry).

Design notes per query live in the docstrings; every one follows the
repo-wide cross-engine determinism rules (functions/stable.py,
llm/hashing.py): integer or exact-decimal arithmetic wherever a value is
compared, libm only where both engines are correctly-rounded (IEEE
division), md5-based hashing for anything pseudo-random.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from sparkksqldbbenchmark_spark.catalog import load_table  # noqa: F401
from sparkksqldbbenchmark_spark.plans.registry import query


# ------------------------------ second Pregel superstep (GNN h2) --


def _superstep2_oracle(k: int = 16, bands: int = 4, n: int = 3) -> str:
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
    ), h1 AS (
        SELECT e.u AS doc, sum(dn.degree) AS h1
        FROM edges e JOIN deg dn ON dn.doc = e.v
        GROUP BY e.u
    )
    SELECT e.u AS doc_id,
           CAST(d0.degree AS BIGINT) AS degree,
           CAST(m0.h1 AS BIGINT) AS h1,
           CAST(sum(mn.h1) AS BIGINT) AS h2_sum,
           CAST(max(mn.h1) AS BIGINT) AS h2_max
    FROM edges e
    JOIN deg d0 ON d0.doc = e.u
    JOIN h1 m0 ON m0.doc = e.u
    JOIN h1 mn ON mn.doc = e.v
    GROUP BY e.u, d0.degree, m0.h1
    """


@query("graph_pregel_superstep2", oracle=_superstep2_oracle())
def graph_pregel_superstep2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SECOND PREGEL SUPERSTEP on the near-dup graph — two rounds of
    GNN-style message passing end to end: superstep 1 gathers
    neighbor degrees into h1 (the graduated graph_2hop_degree_sum
    feature), superstep 2 gathers the NEIGHBORS' h1 into h2 (sum and
    max). Two supersteps pin the iterate-and-gather pattern the
    single-step row cannot: the second gather consumes a DERIVED
    per-node frame (the message table), not a static attribute — the
    exact dataflow of GNN feature propagation, label propagation, and
    iterative influence scoring.

    Scale shape: each superstep is ONE self-join of the edge list
    against the previous per-node frame plus one aggregate — 2|E|
    rows through two hash exchanges per step, the standard Pregel
    cost, and the per-node frames stay node-grain (never edge-grain
    materialized beyond the join). Edges come from the audited LSH
    bucket join, never all-pairs. At D supersteps the cost is D
    linear passes — no quadratic blowup, no driver-side iteration
    state beyond the loop counter.

    Reference basis: dup-graph family (graph_2hop_degree_sum r14
    superstep 1; cc_hash_to_min_pointer_jump r13 iterates to
    convergence — this row pins the fixed-depth two-step form
    between them)."""
    from sparkksqldbbenchmark_spark.llm.dedup import lsh_banded_buckets

    docs = load_table(spark, sf_dir, "documents")
    _, buckets = lsh_banded_buckets(docs, "text", "doc_id")
    a = buckets.select(F.col("doc_id").alias("doc_a"), "band_idx", "bh")
    b = buckets.select(F.col("doc_id").alias("doc_b"), "band_idx", "bh")
    cand = (
        a.join(b, ["band_idx", "bh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    edges = cand.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(
        cand.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    # 3 consumers (deg, both gathers): checkpoint so the LSH bucket
    # self-join runs once, and HASH-PARTITION + SORT by v first — both
    # supersteps gather ON v, so the checkpoint's pinned layout makes
    # every |E|-grain join exchange- and sort-free on the edge side
    # (optimization guide §2.4; same pattern as pagerank_dupgraph_3iter).
    edges = (
        edges.repartition(F.col("v"))
        .sortWithinPartitions("v")
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy(F.col("u").alias("doc")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    h1 = (
        edges.join(
            deg.select(
                F.col("doc").alias("v"), F.col("degree").alias("dn")
            ).hint("shuffle_hash"),
            "v",
        )
        .groupBy(F.col("u").alias("doc"))
        .agg(F.sum("dn").alias("h1"))
    )
    # guide §8 "decide with small rows": fold the node-grain attributes
    # (degree, h1) into ONE frame, aggregate the superstep-2 gather to
    # node grain FIRST, then attach attributes with a node-grain join —
    # the unfolded form joined the |E|-grain edges three times (u-deg,
    # u-h1, v-h1). Checkpointed because two consumers (mn side + final
    # attach) would otherwise each re-derive deg and h1 from edges.
    nodes = deg.join(h1, "doc").localCheckpoint(eager=True)
    h2 = (
        edges.join(
            nodes.select(
                F.col("doc").alias("v"), F.col("h1").alias("mn")
            ).hint("shuffle_hash"),
            "v",
        )
        .groupBy(F.col("u").alias("doc_id"))
        .agg(
            F.sum("mn").cast("long").alias("h2_sum"),
            F.max("mn").cast("long").alias("h2_max"),
        )
    )
    return h2.join(
        nodes.withColumnRenamed("doc", "doc_id").hint("shuffle_hash"),
        "doc_id",
    ).select(
        "doc_id",
        F.col("degree").cast("long").alias("degree"),
        F.col("h1").cast("long").alias("h1"),
        "h2_sum",
        "h2_max",
    )


# --------------- curation pipeline v3: + Bloom decontam stage --


def _curation_v3_oracle() -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import (
        sql_md5_int,
        sql_word_shingles,
    )

    h = sql_md5_int("w.w")
    evalsplit = f"({sql_md5_int('CAST(doc_id AS VARCHAR)')} % 10)"
    sh = sql_word_shingles("text", 3)
    return f"""
    WITH pool AS (
        SELECT * FROM documents WHERE {evalsplit} != 0
    ),
    eval_sh AS (
        SELECT DISTINCT unnest({sh}) AS esh
        FROM documents WHERE {evalsplit} = 0
    ),
    words AS (
        SELECT d.doc_id, d.source,
               unnest(regexp_extract_all(d.text, '\\S+')) AS w,
               generate_subscripts(
                   regexp_extract_all(d.text, '\\S+'), 1) AS i
        FROM pool d
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
        JOIN (SELECT doc_id, md5(text) AS md5t FROM pool) d
          ON d.doc_id = k.doc_id
    ),
    deduped AS (
        SELECT doc_id, source, n_words FROM canon
        WHERE doc_id = canonical_id
    ),
    contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM (SELECT p.doc_id, unnest({sh}) AS sh
              FROM pool p
              JOIN deduped dd ON dd.doc_id = p.doc_id) t
        JOIN eval_sh e ON e.esh = t.sh
    ),
    clean AS (
        SELECT d.* FROM deduped d
        LEFT JOIN contaminated c ON c.doc_id = d.doc_id
        WHERE c.doc_id IS NULL
    ),
    survivors AS (
        SELECT source,
               CAST(sum(n_words) AS BIGINT) AS total_tokens,
               count(*) AS docs_kept,
               (SELECT count(*) FROM deduped dd
                JOIN contaminated c ON c.doc_id = dd.doc_id
                WHERE dd.source = s.source) AS docs_decontaminated
        FROM clean s
        GROUP BY source
    ),
    b AS (
        SELECT CAST(sum(total_tokens) // 2 AS BIGINT) AS budget,
               count(*) AS n FROM survivors
    ),
    ranked AS (
        SELECT source, total_tokens, docs_kept, docs_decontaminated,
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
           CAST(r.docs_decontaminated AS BIGINT)
               AS docs_decontaminated,
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
    "curation_pipeline_v3_composed", oracle=_curation_v3_oracle()
)
def curation_pipeline_v3_composed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CURATION PIPELINE v3 — v2's Gopher-keep -> canonical-dedup ->
    water-fill chain with the BLOOM DECONTAMINATION stage spliced in
    between dedup and budgeting (the ROTATION_R14 seed): an md5 tenth
    of the corpus plays the eval split, its word-3-shingle set
    compresses into the 4096-bit/3-hash broadcast Bloom, every
    surviving train doc's shingles probe it scan-side, and only the
    FLAGGED docs proceed to the exact containment join that decides
    the drop — the production decontamination shape, correct because
    a Bloom never misses (FN = 0, graded standalone by
    decontam_bloom_prefilter_certified). The oracle runs the exact
    containment join directly: identical keep-set by the no-FN
    guarantee, so the comparison PROVES the prefilter changes the
    plan, not the answer. Per source: kept docs, decontaminated
    drops, surviving tokens, water-filled allocation.

    Scale shape: adds to v2 exactly one kilobyte-scale broadcast +
    one scan-side probe + one equi-join over the FLAGGED sliver
    (Bloom-FPR-bounded, measured 100x-1000x smaller than the
    corpus) — no exchange over unflagged mass. Every stage is also
    graded standalone, so a divergence localizes instantly.

    Reference basis: curation family capstone
    (curation_pipeline_v2_composed r14; decontam_bloom r14;
    gopher/waterfill r14)."""
    from sparkksqldbbenchmark_spark.llm.hashing import (
        spark_md5_int,
        spark_tokens,
        spark_word_shingles,
    )

    m, kbits = 4096, 3
    docs = load_table(spark, sf_dir, "documents")
    evalsplit = F.expr(
        f"{spark_md5_int('cast(doc_id as string)')} % 10"
    )
    pool = docs.where(evalsplit != 0)
    eval_docs = docs.where(evalsplit == 0)
    shexpr = F.expr(spark_word_shingles("text", 3))
    eval_sh = eval_docs.select(F.explode(shexpr).alias("esh")).distinct()
    # two consumers (Bloom build + exact-verify join) — materialize so
    # the eval-split shingle explode+distinct runs once
    eval_sh = eval_sh.localCheckpoint(eager=True)

    # -- stage 1: Gopher dup-sentence keep (scan-side, O(n)) --
    # r18 optimization: O(n) boundary/slice sentence counts
    # (llm/sentences.py) replace the O(ns²) fold — identical integers.
    from sparkksqldbbenchmark_spark.llm.sentences import (
        with_sentence_counts,
    )

    toks = pool.select(
        "doc_id",
        "source",
        "text",
        F.expr(spark_tokens("text")).alias("toks"),
    ).where(F.size("toks") > 0)
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

    # -- stage 2: canonical exact dedup --
    canon = keepers.withColumn(
        "canonical_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))),
    )
    deduped = canon.where(F.col("doc_id") == F.col("canonical_id"))
    # three consumers below (shingle probes, the anti-join, the
    # semi-join) — materialize so the interpreted sentence fold, the
    # Gopher cut and the md5 window run once, not three times
    deduped = deduped.localCheckpoint(eager=True)

    # -- stage 3: Bloom-prefiltered decontamination --
    j = F.explode(F.sequence(F.lit(0), F.lit(kbits - 1))).alias("j")
    hp = (
        "("
        + spark_md5_int("concat(cast(j as string), '#', sh)")
        + f") % {m}"
    )
    bloom = (
        eval_sh.select(F.col("esh").alias("sh"), j)
        .select(F.expr(hp).alias("p"))
        .groupBy(F.expr("p DIV 32").alias("word"))
        .agg(
            F.expr("bit_or(shiftleft(1L, cast(p % 32 as int)))")
            .cast("long")
            .alias("bits")
        )
    )
    train_sh = deduped.select(
        "doc_id", F.explode(shexpr).alias("sh")
    )
    probes = train_sh.select("doc_id", "sh", j).select(
        "doc_id", "sh", F.expr(hp).alias("p")
    )
    flagged_sh = (
        probes.join(
            F.broadcast(bloom), F.expr("word = p DIV 32"), "left"
        )
        .select(
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
        .groupBy("doc_id", "sh")
        .agg(F.sum("hit").alias("hits"))
        .where(F.col("hits") == kbits)
    )
    # exact containment join ONLY over the Bloom-flagged sliver —
    # identical verdicts to the full exact join because FN = 0
    contaminated = (
        flagged_sh.join(
            eval_sh.select(F.col("esh").alias("sh")), "sh"
        )
        .select("doc_id")
        .distinct()
    )
    # two consumers (anti + semi) — materialize the tiny id set so the
    # shingle-probe subtree runs once
    contaminated = contaminated.localCheckpoint(eager=True)
    clean = deduped.join(contaminated, "doc_id", "left_anti")
    dropped = (
        deduped.join(contaminated, "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("docs_decont"))
    )

    # -- stage 4: water-filled budget over the survivor frame --
    survivors = (
        clean.groupBy("source")
        .agg(
            F.sum("n_words").cast("long").alias("total_tokens"),
            F.count(F.lit(1)).cast("long").alias("docs_kept"),
        )
        .join(dropped, "source", "left")
        .select(
            "source",
            "docs_kept",
            F.coalesce("docs_decont", F.lit(0))
            .cast("long")
            .alias("docs_decontaminated"),
            "total_tokens",
        )
    )
    w_rank = Window.orderBy("total_tokens", "source")
    ranked = survivors.select(
        "source",
        "docs_kept",
        "docs_decontaminated",
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
            "docs_decontaminated",
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


# ------------------- PAV isotonic calibration over score bins --

_PAV_BINS = 20


def _pav_oracle(nb: int = _PAV_BINS) -> str:
    # exact fraction ordering via the floor-key embedding: for
    # fractions num/den with den < 2^20, key = num * 2^40 // den is a
    # strict order embedding (distinct values differ by >= 1/(d*e) >
    # 2^-40, so keys differ by >= 1); equal values share a key and a
    # micros rendering, so argmin/argmax ties are value-ties only.
    return f"""
    WITH binned AS (
        SELECT least({nb - 1},
                     greatest(0, CAST(floor(value / 5.0) AS BIGINT)))
                   AS bin,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    grid AS (SELECT unnest(range({nb})) AS bin),
    agg AS (
        SELECT g.bin,
               CAST(count(b.bin) AS BIGINT) AS n,
               CAST(coalesce(sum(b.y), 0) AS BIGINT) AS k
        FROM grid g LEFT JOIN binned b ON b.bin = g.bin
        GROUP BY g.bin
    ),
    cum AS (
        SELECT bin, n, k,
               sum(n) OVER (ORDER BY bin) AS cn,
               sum(k) OVER (ORDER BY bin) AS ck
        FROM agg
    ),
    pairs AS (
        SELECT lo.bin AS j, hi.bin AS kk,
               hi.ck - lo.ck + lo.k AS num,
               hi.cn - lo.cn + lo.n AS den
        FROM cum lo JOIN cum hi ON lo.bin <= hi.bin
        WHERE hi.cn - lo.cn + lo.n > 0
    ),
    inner_min AS (
        SELECT i.bin AS i, p.j,
               min_by([p.num, p.den],
                      p.num * 1099511627776 // p.den) AS frac
        FROM (SELECT bin FROM agg) i
        JOIN pairs p ON p.j <= i.bin AND p.kk >= i.bin
        GROUP BY i.bin, p.j
    ),
    outer_max AS (
        SELECT i,
               max_by(frac,
                      frac[1] * 1099511627776 // frac[2]) AS best
        FROM inner_min GROUP BY i
    )
    SELECT a.bin, a.n, a.k,
           CAST(o.best[1] * 1000000 // o.best[2] AS BIGINT)
               AS fitted_micros
    FROM agg a JOIN outer_max o ON o.i = a.bin
    """


@query("pav_isotonic_calibration_binned", oracle=_pav_oracle())
def pav_isotonic_calibration_binned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ISOTONIC CALIBRATION by Pool-Adjacent-Violators over bounded
    score bins — the standard monotone re-mapping of a model score to
    an observed rate (calibrating a quality scorer before a threshold
    cut): events bin by value (20 fixed bins), y = purchase, and the
    isotonic fit is computed by the EXACT max-min identity
    fitted(i) = max_{j<=i} min_{k>=i} mean(y[j..k]) — equivalent to
    the PAV pooling algorithm (Ayer et al. 1955), but expressed as
    bounded-frame relational algebra instead of a sequential stack.
    All fraction comparisons use the floor-key embedding
    num*2^40 // den (exact strict order for den < 2^20 — distinct
    fractions differ by >= 1/(d*e) > 2^-40); the output renders the
    fitted rate as exact floor micros.

    Scale shape: ONE partial+final aggregate collapses the fact scan
    to the 20-bin frame; the pair/triple enumeration (<= 20^2 pairs,
    <= 20^2 inner groups) runs on that bounded frame — constant work
    regardless of input size. The den < 2^20 key bound holds to ~1M
    rows per calibration slice; beyond that the same identity runs
    with a wider key or per-slice normalization (documented, not
    load-bearing at graded SFs).

    Reference basis: score-calibration family
    (score_calibration_bins r12, quality_threshold_sweep_confusion
    r13 TAIL — this adds the MONOTONE-fit operator those rows bin
    for)."""
    ev = load_table(spark, sf_dir, "events")
    binned = ev.select(
        F.least(
            F.lit(_PAV_BINS - 1),
            F.greatest(
                F.lit(0), F.floor(F.col("value") / 5.0).cast("long")
            ),
        ).alias("bin"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    grid = spark.range(_PAV_BINS).select(F.col("id").alias("bin"))
    agg = (
        grid.join(binned, "bin", "left")
        .groupBy("bin")
        .agg(
            F.count("y").cast("long").alias("n"),
            F.coalesce(F.sum("y"), F.lit(0)).cast("long").alias("k"),
        )
    )
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = agg.select(
        "bin",
        "n",
        "k",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("k").over(wcum).alias("ck"),
    )
    lo = cum.select(
        F.col("bin").alias("j"),
        F.col("ck").alias("ck_lo"),
        F.col("cn").alias("cn_lo"),
        F.col("k").alias("k_lo"),
        F.col("n").alias("n_lo"),
    )
    hi = cum.select(
        F.col("bin").alias("kk"),
        F.col("ck").alias("ck_hi"),
        F.col("cn").alias("cn_hi"),
    )
    pairs = (
        lo.join(hi, F.col("j") <= F.col("kk"))
        .select(
            "j",
            "kk",
            (F.col("ck_hi") - F.col("ck_lo") + F.col("k_lo")).alias(
                "num"
            ),
            (F.col("cn_hi") - F.col("cn_lo") + F.col("n_lo")).alias(
                "den"
            ),
        )
        .where(F.col("den") > 0)
    )
    key = (F.col("num") * F.lit(1099511627776)) / F.col("den")
    ikey = F.floor(key).cast("long")
    i_frame = agg.select(F.col("bin").alias("i"))
    inner = (
        i_frame.join(
            pairs,
            (F.col("j") <= F.col("i")) & (F.col("kk") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(
            F.min_by(F.struct("num", "den"), ikey).alias("frac")
        )
    )
    outer = inner.groupBy("i").agg(
        F.max_by(
            F.col("frac"),
            F.floor(
                (F.col("frac.num") * F.lit(1099511627776))
                / F.col("frac.den")
            ).cast("long"),
        ).alias("best")
    )
    return agg.join(outer, agg.bin == outer.i).select(
        "bin",
        "n",
        "k",
        F.floor(
            (F.col("best.num") * F.lit(1000000)) / F.col("best.den")
        )
        .cast("long")
        .alias("fitted_micros"),
    )


# ---------------- exact Kendall concordance (tau-b components) --

_KT_TOPN = 40


def _kendall_oracle(topn: int = _KT_TOPN) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    q = f"({sql_md5_int('text')} % 1000)"
    return f"""
    WITH scored AS (
        SELECT source, doc_id, n_chars, {q} AS quality,
               row_number() OVER (
                   PARTITION BY source ORDER BY doc_id
               ) AS rn
        FROM documents
    ),
    top AS (SELECT * FROM scored WHERE rn <= {topn}),
    pairs AS (
        SELECT a.source,
               CASE WHEN (a.n_chars - b.n_chars)
                         * (a.quality - b.quality) > 0
                    THEN 1 ELSE 0 END AS conc,
               CASE WHEN (a.n_chars - b.n_chars)
                         * (a.quality - b.quality) < 0
                    THEN 1 ELSE 0 END AS disc,
               CASE WHEN a.n_chars = b.n_chars
                         AND a.quality != b.quality
                    THEN 1 ELSE 0 END AS tie_x,
               CASE WHEN a.quality = b.quality
                         AND a.n_chars != b.n_chars
                    THEN 1 ELSE 0 END AS tie_y,
               CASE WHEN a.n_chars = b.n_chars
                         AND a.quality = b.quality
                    THEN 1 ELSE 0 END AS tie_xy
        FROM top a JOIN top b
          ON a.source = b.source AND a.doc_id < b.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(conc) AS BIGINT) AS concordant,
           CAST(sum(disc) AS BIGINT) AS discordant,
           CAST(sum(tie_x) AS BIGINT) AS ties_x,
           CAST(sum(tie_y) AS BIGINT) AS ties_y,
           CAST(sum(tie_xy) AS BIGINT) AS ties_xy,
           CAST(sum(conc) - sum(disc) AS BIGINT) AS tau_numerator
    FROM pairs GROUP BY source
    """


@query("kendall_tau_topk_exact", oracle=_kendall_oracle())
def kendall_tau_topk_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT KENDALL CONCORDANCE between two per-doc orderings (length
    vs a deterministic md5 quality score) over a bounded top-N slice
    per source — the rank-agreement metric for comparing two scorers
    (does the cheap heuristic order docs the way the expensive model
    does?) whose tau-b components are EXACT integers: concordant,
    discordant, x-ties, y-ties, xy-ties, and the tau numerator C-D.
    The irrational tau-b denominator sqrt((n0-n1)(n0-n2)) is left to
    the consumer — every graded quantity is an integer, per the
    repo-wide determinism rules (the AUC row made the same choice).

    Scale shape: the slice is row_number <= N per source (bounded
    window input per group), so the pair frame is C(N,2) per source —
    bounded by construction, never corpus-quadratic. The production
    form at 100 TB ranks candidates per query/section (bounded K)
    exactly like this. One shuffle to the source grain, one bounded
    self-join.

    Reference basis: evaluation family (auc_rank_sum_exact r13,
    cohens_kappa_exact / macro_f1_exact / average_precision_exact
    r14 — this completes rank-correlation)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.expr(f"({spark_md5_int('text')}) % 1000").alias("quality"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy("doc_id"))
        .alias("rn"),
    ).where(F.col("rn") <= _KT_TOPN)
    a = scored.select(
        "source",
        F.col("doc_id").alias("id_a"),
        F.col("n_chars").alias("x_a"),
        F.col("quality").alias("y_a"),
    )
    b = scored.select(
        "source",
        F.col("doc_id").alias("id_b"),
        F.col("n_chars").alias("x_b"),
        F.col("quality").alias("y_b"),
    )
    pairs = a.join(b, "source").where(F.col("id_a") < F.col("id_b"))
    dx = F.col("x_a") - F.col("x_b")
    dy = F.col("y_a") - F.col("y_b")
    return pairs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(dx * dy > 0, 1).otherwise(0))
        .cast("long")
        .alias("concordant"),
        F.sum(F.when(dx * dy < 0, 1).otherwise(0))
        .cast("long")
        .alias("discordant"),
        F.sum(F.when((dx == 0) & (dy != 0), 1).otherwise(0))
        .cast("long")
        .alias("ties_x"),
        F.sum(F.when((dy == 0) & (dx != 0), 1).otherwise(0))
        .cast("long")
        .alias("ties_y"),
        F.sum(F.when((dx == 0) & (dy == 0), 1).otherwise(0))
        .cast("long")
        .alias("ties_xy"),
        (
            F.sum(F.when(dx * dy > 0, 1).otherwise(0))
            - F.sum(F.when(dx * dy < 0, 1).otherwise(0))
        )
        .cast("long")
        .alias("tau_numerator"),
    )


# ------------------- exact Shapley channel attribution --

_SHAPLEY_CHANNELS = ("click", "error", "signup", "view")  # sorted


def _shapley_oracle() -> str:
    chans = _SHAPLEY_CHANNELS
    n = len(chans)
    # bit i of the coalition mask = chans[i] touched
    bits = " + ".join(
        f"max(CASE WHEN event_type = '{c}' THEN {1 << i} ELSE 0 END)"
        for i, c in enumerate(chans)
    )
    import math

    # weight(|S|) = |S|! * (n-1-|S|)!  (the 1/n! factor stays symbolic:
    # phi_weighted = n! * 1e6 * phi, an exact integer)
    wcase = " ".join(
        f"WHEN {s} THEN {math.factorial(s) * math.factorial(n - 1 - s)}"
        for s in range(n)
    )
    return f"""
    WITH per_user AS (
        SELECT user_id,
               CAST({bits} AS BIGINT) AS mask,
               max(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ),
    v AS (
        SELECT m.mask,
               CAST(coalesce(sum(p.converted), 0) * 1000000
                    // greatest(count(p.user_id), 1) AS BIGINT)
                   AS v_micros,
               CAST(count(p.user_id) AS BIGINT) AS n_users
        FROM (SELECT unnest(range({1 << n})) AS mask) m
        LEFT JOIN per_user p ON p.mask = m.mask
        GROUP BY m.mask
    ),
    contrib AS (
        SELECT c.i AS chan_idx,
               (CASE bit_count(s.mask & ~(1 << c.i)) {wcase} END)
               * (vw.v_micros - vo.v_micros) AS delta
        FROM (SELECT unnest(range({n})) AS i) c
        JOIN (SELECT unnest(range({1 << n})) AS mask) s
          ON (s.mask & (1 << c.i)) = 0
        JOIN v vo ON vo.mask = s.mask
        JOIN v vw ON vw.mask = (s.mask | (1 << c.i))
    )
    SELECT CASE chan_idx {" ".join(
        f"WHEN {i} THEN '{c}'" for i, c in enumerate(chans))} END
               AS channel,
           CAST(sum(delta) AS BIGINT) AS phi_weighted_micros
    FROM contrib GROUP BY chan_idx
    """


@query("shapley_attribution_exact", oracle=_shapley_oracle())
def shapley_attribution_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT SHAPLEY-VALUE CHANNEL ATTRIBUTION — the game-theoretic
    successor to last-touch (attribution_last_touch_windowed
    graduates this round): each user's touched channel SET is a
    coalition (4 non-purchase channels -> 16 masks), the
    characteristic function v(S) is the observed conversion rate of
    users with exactly that touch-set (floor micros — exact
    integers), and each channel's Shapley value is the classic
    weighted marginal sum phi_c = sum_S |S|!(n-1-|S|)!/n! *
    (v(S+c) - v(S)). The row grades phi * n! * 1e6 as an exact
    integer (the irrational-free rendering; unobserved coalitions
    take v = 0 by the empty-sum convention, materialized via the
    full mask grid so both engines agree on support).

    Scale shape: ONE user-grain aggregate collapses the fact scan to
    (user, mask, converted); a second aggregate collapses that to
    the 16-row coalition frame; the Shapley sum is a bounded
    16 x 4 join on literals. Nothing downstream of the two
    partial+final aggregates scales with data. The exact-enumeration
    form is viable to ~20 channels (2^20 frame); beyond that the
    standard move is sampled permutations — documented, not needed
    at any graded scale.

    Reference basis: product-analytics family (funnel_conversion r5,
    attribution_last_touch r13 — this adds the credit-assignment
    operator marketing teams actually fight over)."""
    import math

    chans = _SHAPLEY_CHANNELS
    n = len(chans)
    ev = load_table(spark, sf_dir, "events")
    mask_expr = None
    for i, c in enumerate(chans):
        term = F.max(
            F.when(F.col("event_type") == c, 1 << i).otherwise(0)
        )
        mask_expr = term if mask_expr is None else mask_expr + term
    per_user = ev.groupBy("user_id").agg(
        mask_expr.cast("long").alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    grid = spark.range(1 << n).select(F.col("id").alias("mask"))
    v = (
        grid.join(per_user, "mask", "left")
        .groupBy("mask")
        .agg(
            F.floor(
                F.coalesce(F.sum("converted"), F.lit(0))
                * 1000000
                / F.greatest(F.count("user_id"), F.lit(1))
            )
            .cast("long")
            .alias("v_micros"),
            F.count("user_id").cast("long").alias("n_users"),
        )
    )
    cframe = spark.range(n).select(F.col("id").alias("chan_idx"))
    s = grid.join(
        cframe,
        F.expr("(mask & shiftleft(1L, cast(chan_idx as int))) = 0"),
    )
    wmap = {
        k: math.factorial(k) * math.factorial(n - 1 - k)
        for k in range(n)
    }
    wexpr = F.when(F.lit(False), 0)
    sz = F.bit_count(F.col("mask"))
    for k, wt in wmap.items():
        wexpr = wexpr.when(sz == k, wt)
    contrib = (
        s.join(
            F.broadcast(
                v.select(
                    F.col("mask").alias("mask_o"),
                    F.col("v_micros").alias("v_o"),
                )
            ),
            F.col("mask_o") == F.col("mask"),
        )
        .join(
            F.broadcast(
                v.select(
                    F.col("mask").alias("mask_w"),
                    F.col("v_micros").alias("v_w"),
                )
            ),
            F.expr(
                "mask_w = (mask | shiftleft(1L, cast(chan_idx as int)))"
            ),
        )
        .select(
            "chan_idx",
            (wexpr * (F.col("v_w") - F.col("v_o"))).alias("delta"),
        )
    )
    cname = F.when(F.lit(False), "")
    for i, c in enumerate(chans):
        cname = cname.when(F.col("chan_idx") == i, c)
    return contrib.groupBy("chan_idx").agg(
        F.sum("delta").cast("long").alias("phi_weighted_micros")
    ).select(
        cname.alias("channel"),
        "phi_weighted_micros",
    )


# ---------------- speculative-decoding bigram draft acceptance --


def _bigram_accept_oracle() -> str:
    return """
    WITH toks AS (
        SELECT doc_id, source,
               unnest(regexp_extract_all(text, '\\S+')) AS w,
               generate_subscripts(
                   regexp_extract_all(text, '\\S+'), 1) AS i
        FROM documents
    ),
    bigrams AS (
        SELECT a.source, a.w AS w1, b.w AS w2
        FROM toks a JOIN toks b
          ON b.doc_id = a.doc_id AND b.i = a.i + 1
    ),
    counts AS (
        SELECT source, w1, w2, count(*) AS c
        FROM bigrams GROUP BY source, w1, w2
    ),
    pred AS (
        SELECT source, w1, w2 AS w2_pred FROM (
            SELECT source, w1, w2,
                   row_number() OVER (
                       PARTITION BY source, w1
                       ORDER BY c DESC, w2
                   ) AS rn
            FROM counts
        ) WHERE rn = 1
    )
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_positions,
           CAST(sum(CASE WHEN b.w2 = p.w2_pred THEN 1 ELSE 0 END)
                AS BIGINT) AS n_accepted,
           CAST(sum(CASE WHEN b.w2 = p.w2_pred THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT)
               AS acceptance_micros
    FROM bigrams b
    JOIN pred p ON p.source = b.source AND p.w1 = b.w1
    GROUP BY b.source
    """


@query(
    "bigram_draft_acceptance_rate", oracle=_bigram_accept_oracle()
)
def bigram_draft_acceptance_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SPECULATIVE-DECODING DRAFT ACCEPTANCE, bigram form — the
    inference-era corpus statistic: if a draft model proposes the
    per-source modal next token (argmax bigram continuation, ties to
    the lexicographically first word — deterministic in both
    engines), what fraction of real corpus positions would accept
    the draft? Per source: positions, accepted, floor-micros
    acceptance rate. High acceptance = the corpus is predictable =
    speculative decoding (Leviathan et al. 2023) pays; the same
    statistic ranks sources by boilerplate-ness for curation.

    Scale shape: positions come from one ordinal zip of the token
    arrays (scan-side posexplode, no window); bigram counts are one
    partial+final aggregate to the (source, w1, w2) grain; the
    argmax predictor is a vocabulary-grain frame (data-independent
    size for natural text) joined back on (source, w1) — a hash join
    on a key whose cardinality is the vocabulary, not the corpus.
    Acceptance folds in the same pass. Two shuffles total at any
    scale.

    Reference basis: text/LM family (ngram_lm_familiarity r9,
    bpe_pair_merge_candidates r11 TAIL, token_pmi_top_pairs r13 —
    this adds the acceptance-rate lens those tables feed)."""
    docs = load_table(spark, sf_dir, "documents")
    # bigrams are built SCAN-SIDE by zipping the token array with its
    # own tail — no positional self-join (the join form measured 3x
    # slower at 1M docs, docs/DESIGN_100TB.md "Round-15 scale points:
    # round-16 staged shapes": it shuffles the 59M-token position table
    # twice before the first aggregate)
    toks = F.split(F.trim(F.col("text")), "\\s+")
    bigrams = docs.select(
        "source",
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda w1, w2: F.struct(
                    w1.alias("w1"), w2.alias("w2")
                ),
            )
        ).alias("bg"),
    ).select("source", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    counts = bigrams.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c")
    )
    pred = (
        counts.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source", "w1").orderBy(
                    F.col("c").desc(), "w2"
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select("source", "w1", F.col("w2").alias("w2_pred"))
    )
    return (
        bigrams.join(pred, ["source", "w1"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_positions"),
            F.sum(
                F.when(F.col("w2") == F.col("w2_pred"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_accepted"),
            F.floor(
                F.sum(
                    F.when(
                        F.col("w2") == F.col("w2_pred"), 1
                    ).otherwise(0)
                )
                * 1000000
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("acceptance_micros"),
        )
    )


# ---------------- KV prefix-cache hit mass (prefix grouping) --

_PFX_TOKENS = 8


def _prefix_cache_oracle(p: int = _PFX_TOKENS) -> str:
    return f"""
    WITH pfx AS (
        SELECT source, doc_id,
               array_to_string(
                   regexp_extract_all(text, '\\S+')[1:{p}], ' ')
                   AS prefix,
               least({p}, len(regexp_extract_all(text, '\\S+')))
                   AS plen
        FROM documents
    ),
    groups AS (
        SELECT source, prefix, plen,
               count(*) AS n_docs
        FROM pfx GROUP BY source, prefix, plen
    )
    SELECT source,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_distinct_prefixes,
           CAST(sum(CASE WHEN n_docs > 1 THEN n_docs ELSE 0 END)
                AS BIGINT) AS docs_in_shared_groups,
           CAST(sum((n_docs - 1) * plen) AS BIGINT)
               AS cacheable_prefix_tokens,
           CAST(sum((n_docs - 1) * plen) * 1000000
                // sum(n_docs * plen) AS BIGINT)
               AS cache_hit_micros
    FROM groups GROUP BY source
    """


@query("prefix_cache_hit_mass", oracle=_prefix_cache_oracle())
def prefix_cache_hit_mass(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KV PREFIX-CACHE HIT MASS — the serving-era corpus statistic:
    group documents by their first-{_PFX_TOKENS} tokens (the prompt
    prefix an inference server would cache) and measure, per source,
    how many prefix-token computations a perfect prefix cache saves:
    (n_docs - 1) * prefix_len per shared group, rendered as exact
    floor-micros of the total prefix-token mass. The same table
    ranks sources by template-ness for curation (high hit mass =
    boilerplate prompts).

    Scale shape: one scan-side prefix extraction (array slice of the
    token split, no explode), one partial+final aggregate to the
    (source, prefix) grain, one bounded source-grain rollup. The
    prefix-group key is a short string — the aggregate state is
    group-grain, never corpus-grain; at 100 TB this is exactly one
    shuffle on a high-cardinality-but-collapsing key.

    Reference basis: dedup/containment family (dedup_exact r4,
    dedup_containment r7 TAIL — this is the PREFIX-grain containment
    the serving stack monetizes)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), "\\s+")
    pfx = docs.select(
        "source",
        F.array_join(F.slice(toks, 1, _PFX_TOKENS), " ").alias(
            "prefix"
        ),
        F.least(F.lit(_PFX_TOKENS), F.size(toks)).alias("plen"),
    )
    groups = pfx.groupBy("source", "prefix", "plen").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    shared = F.when(
        F.col("n_docs") > 1, F.col("n_docs")
    ).otherwise(0)
    return groups.groupBy("source").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_prefixes"),
        F.sum(shared).cast("long").alias("docs_in_shared_groups"),
        F.sum((F.col("n_docs") - 1) * F.col("plen"))
        .cast("long")
        .alias("cacheable_prefix_tokens"),
        F.floor(
            F.sum((F.col("n_docs") - 1) * F.col("plen"))
            * 1000000
            / F.sum(F.col("n_docs") * F.col("plen"))
        )
        .cast("long")
        .alias("cache_hit_micros"),
    )


# ------------------------- k-anonymity risk audit --

_KANON_K = 5


def _kanon_oracle(k: int = _KANON_K) -> str:
    return f"""
    WITH qi AS (
        SELECT event_type,
               hour(ts) AS hr,
               least(9, greatest(0,
                   CAST(floor(value / 10.0) AS BIGINT))) AS vb,
               user_id
        FROM events
    ),
    cells AS (
        SELECT event_type, hr, vb,
               count(*) AS n_rows,
               count(DISTINCT user_id) AS n_users
        FROM qi GROUP BY event_type, hr, vb
    )
    SELECT event_type,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_qi_cells,
           CAST(sum(CASE WHEN n_users < {k} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_risky_cells,
           CAST(sum(CASE WHEN n_users < {k} THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_at_risk,
           CAST(sum(CASE WHEN n_users < {k} THEN n_rows ELSE 0 END)
                * 1000000 // sum(n_rows) AS BIGINT)
               AS suppression_micros
    FROM cells GROUP BY event_type
    """


@query("k_anonymity_risk_audit", oracle=_kanon_oracle())
def k_anonymity_risk_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """K-ANONYMITY RISK AUDIT over quasi-identifier cells — the
    re-identification pre-check every data release runs: rows group
    into QI cells (event_type x hour-of-day x value decile), a cell
    with fewer than {_KANON_K} DISTINCT users is risky (its members
    are re-identifiable by the QI tuple alone), and the audit grades
    per event_type the risky-cell count, the rows at risk, and the
    suppression fraction (exact floor micros) a k-anonymous release
    would have to drop or generalize. Complements the governance
    family's retention/erasure/subject-access rows with the
    DISCLOSURE axis.

    Scale shape: one partial+final aggregate to the bounded QI-cell
    grain (|types| x 24 x 10) with count-distinct inside (partial
    per partition), one bounded rollup. Nothing scales past the
    first aggregate.

    Reference basis: governance family (pii_scrub_stats r5,
    right_to_erasure_cascade r12, subject_access_export r13,
    data_retention_expiry_plan r14)."""
    ev = load_table(spark, sf_dir, "events")
    qi = ev.select(
        "event_type",
        F.hour("ts").alias("hr"),
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0), F.floor(F.col("value") / 10.0).cast("long")
            ),
        ).alias("vb"),
        "user_id",
    )
    cells = qi.groupBy("event_type", "hr", "vb").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )
    risky = F.col("n_users") < _KANON_K
    return cells.groupBy("event_type").agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_qi_cells"),
        F.sum(F.when(risky, 1).otherwise(0))
        .cast("long")
        .alias("n_risky_cells"),
        F.sum(F.when(risky, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.floor(
            F.sum(F.when(risky, F.col("n_rows")).otherwise(0))
            * 1000000
            / F.sum("n_rows")
        )
        .cast("long")
        .alias("suppression_micros"),
    )


# ---------------- deterministic bootstrap CI on daily means --

_BOOT_B = 200


def _bootstrap_oracle(B: int = _BOOT_B) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    h = sql_md5_int(
        "(CAST(r.b AS VARCHAR) || '#' || CAST(i.pos AS VARCHAR))"
    )
    return f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(sum(CAST(floor(value * 100) AS BIGINT))
                    AS BIGINT) AS cents,
               count(*) AS n
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT d, cents, n,
               row_number() OVER (ORDER BY d) - 1 AS pos,
               count(*) OVER () AS nd
        FROM daily
    ),
    draws AS (
        SELECT r.b, ({h} % i.nd) AS pick
        FROM (SELECT unnest(range({B})) AS b) r
        CROSS JOIN idx i
    ),
    resampled AS (
        SELECT d.b,
               CAST(sum(x.cents) AS BIGINT) AS tot_cents,
               CAST(sum(x.n) AS BIGINT) AS tot_n
        FROM draws d JOIN idx x ON x.pos = d.pick
        GROUP BY d.b
    ),
    means AS (
        SELECT b, tot_cents * 1000000 // tot_n AS mean_micros,
               row_number() OVER (
                   ORDER BY tot_cents * 1000000 // tot_n, b
               ) AS rk
        FROM resampled
    )
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST((SELECT sum(cents) * 1000000 // sum(n) FROM daily)
                AS BIGINT) AS mean_cents_micros,
           CAST(min(CASE WHEN rk = {max(1, B // 20)}
                    THEN mean_micros END) AS BIGINT) AS ci_lo_micros,
           CAST(min(CASE WHEN rk = {B - B // 20}
                    THEN mean_micros END) AS BIGINT) AS ci_hi_micros
    FROM means
    """


@query("bootstrap_ci_daily_mean", oracle=_bootstrap_oracle())
def bootstrap_ci_daily_mean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DETERMINISTIC BOOTSTRAP confidence interval for the mean daily
    revenue — resampling made cross-engine exact: the day-grain frame
    (bounded, ~30 rows) is resampled {_BOOT_B} times with md5-indexed
    draws (resample b, slot i -> day md5(b#i) mod n_days — the
    repo-standard determinism device), each resample's mean renders
    as exact floor micros, and the 5th/95th nearest-rank order
    statistics of the {_BOOT_B} means give the CI. Grades the
    uncertainty-quantification operator every metrics pipeline needs
    before calling a day-over-day delta real.

    Scale shape: ONE partial+final aggregate collapses the fact scan
    to the day grain; every resample draw, join, and ranking runs on
    bounded frames (B x n_days ~ 6000 rows). The bootstrap's
    classically quadratic resample cost attaches to the AGGREGATE
    grain, not the data — the pattern that makes bootstrapping
    viable at 100 TB.

    Reference basis: statistics family (binned_ks_statistic r10,
    chi2_independence r13, cusum_drift_flags r13 — this adds the
    resampling-CI primitive)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    B = _BOOT_B
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )
    idx = daily.select(
        "d",
        "cents",
        "n",
        (F.row_number().over(Window.orderBy("d")) - 1).alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nd"),
    )
    rframe = spark.range(B).select(F.col("id").alias("b"))
    hx = spark_md5_int(
        "concat(cast(b as string), '#', cast(i as string))"
    )
    draws = (
        rframe.crossJoin(
            idx.select(F.col("pos").alias("i"), F.col("nd"))
        )
        .where(F.col("i") < F.col("nd"))
        .select("b", F.expr(f"({hx}) % nd").alias("pick"))
    )
    resampled = (
        draws.join(
            idx.select("pos", "cents", "n"),
            draws.pick == F.col("pos"),
        )
        .groupBy("b")
        .agg(
            F.sum("cents").cast("long").alias("tot_cents"),
            F.sum("n").cast("long").alias("tot_n"),
        )
    )
    means = resampled.select(
        "b",
        F.floor(
            F.col("tot_cents") * 1000000 / F.col("tot_n")
        )
        .cast("long")
        .alias("mean_micros"),
    ).select(
        "mean_micros",
        F.row_number()
        .over(Window.orderBy("mean_micros", "b"))
        .alias("rk"),
    )
    lo_rk, hi_rk = max(1, B // 20), B - B // 20
    ci = means.agg(
        F.min(
            F.when(F.col("rk") == lo_rk, F.col("mean_micros"))
        ).alias("ci_lo_micros"),
        F.min(
            F.when(F.col("rk") == hi_rk, F.col("mean_micros"))
        ).alias("ci_hi_micros"),
    )
    base = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.floor(F.sum("cents") * 1000000 / F.sum("n"))
        .cast("long")
        .alias("mean_cents_micros"),
    )
    return base.crossJoin(F.broadcast(ci)).select(
        "n_days",
        "mean_cents_micros",
        F.col("ci_lo_micros").cast("long"),
        F.col("ci_hi_micros").cast("long"),
    )


# ----------- join-cardinality histogram estimate, certified --

_CARD_BUCKETS = 64


def _cardinality_oracle(nb: int = _CARD_BUCKETS) -> str:
    return f"""
    WITH o AS (
        SELECT o_custkey % {nb} AS bkt,
               count(*) AS n,
               count(DISTINCT o_custkey) AS d
        FROM orders GROUP BY 1
    ),
    c AS (
        SELECT c_custkey % {nb} AS bkt,
               count(*) AS n,
               count(DISTINCT c_custkey) AS d
        FROM customer GROUP BY 1
    ),
    est AS (
        SELECT CAST(sum(o.n * c.n // greatest(c.d, 1)) AS BIGINT)
                   AS predicted
        FROM o JOIN c ON c.bkt = o.bkt
    ),
    act AS (
        SELECT CAST(count(*) AS BIGINT) AS actual
        FROM orders JOIN customer ON c_custkey = o_custkey
    )
    SELECT est.predicted, act.actual,
           CAST(est.predicted * 1000000 // act.actual AS BIGINT)
               AS ratio_micros,
           (est.predicted * 10 >= act.actual
            AND est.predicted <= act.actual * 10) AS within_10x
    FROM est, act
    """


@query(
    "join_cardinality_histogram_estimate",
    oracle=_cardinality_oracle(),
)
def join_cardinality_histogram_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JOIN-CARDINALITY ESTIMATION from bucketed key histograms,
    certified against the exact join — the cost-based-optimizer
    primitive graded as a value: both join sides collapse to a
    {_CARD_BUCKETS}-bucket key histogram (rows + distinct keys per
    bucket), the classic uniformity-within-bucket estimator predicts
    |A join B| = sum_b n_A(b) * n_B(b) / d_B(b) (integer floor
    arithmetic), and the row grades predicted vs the ACTUAL exact
    join count, the floor-micros ratio, and a within-10x certificate
    — the accuracy envelope AQE/CBO decisions (broadcast vs shuffle,
    skew split) depend on.

    Scale shape: the histograms are one partial+final aggregate per
    side to a bounded {_CARD_BUCKETS}-row frame (count-distinct
    partials per bucket); the estimate is a bounded join of the two
    histograms. The exact join here exists to GRADE the estimator —
    in production the histogram replaces it, which is the point.
    The pattern is how a 1000-executor planner sizes a join without
    running it.

    Reference basis: scale-pattern family (aqe_runtime_broadcast_
    conversion r12, aqe_skew_join_split r9 TAIL, analyze_column_stats
    r5 — this grades the ESTIMATOR those runtime decisions trust)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    o = orders.groupBy(
        (F.col("o_custkey") % _CARD_BUCKETS).alias("bkt")
    ).agg(
        F.count(F.lit(1)).alias("n_o"),
        F.countDistinct("o_custkey").alias("d_o"),
    )
    c = customer.groupBy(
        (F.col("c_custkey") % _CARD_BUCKETS).alias("bkt")
    ).agg(
        F.count(F.lit(1)).alias("n_c"),
        F.countDistinct("c_custkey").alias("d_c"),
    )
    est = (
        o.join(c, "bkt")
        .agg(
            F.sum(
                F.floor(
                    F.col("n_o")
                    * F.col("n_c")
                    / F.greatest(F.col("d_c"), F.lit(1))
                )
            )
            .cast("long")
            .alias("predicted")
        )
    )
    act = (
        orders.join(
            customer,
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("actual"))
    )
    return est.crossJoin(F.broadcast(act)).select(
        "predicted",
        "actual",
        F.floor(F.col("predicted") * 1000000 / F.col("actual"))
        .cast("long")
        .alias("ratio_micros"),
        (
            (F.col("predicted") * 10 >= F.col("actual"))
            & (F.col("predicted") <= F.col("actual") * 10)
        ).alias("within_10x"),
    )


# ------------------- rolling-origin backtest folds --

_BT_FOLDS = 5
_BT_HORIZON = 3  # test-window days per fold


def _backtest_oracle(k: int = _BT_FOLDS, h: int = _BT_HORIZON) -> str:
    return f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               count(*) AS n,
               CAST(sum(CAST(floor(value * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT d, n, cents,
               row_number() OVER (ORDER BY d) - 1 AS pos,
               count(*) OVER () AS nd
        FROM daily
    ),
    folds AS (
        SELECT f.f,
               (SELECT max(nd) FROM idx) - ({k} - f.f) * {h} AS cut
        FROM (SELECT unnest(range({k})) AS f) f
    )
    SELECT CAST(f.f AS BIGINT) AS fold,
           CAST(f.cut AS BIGINT) AS train_days,
           CAST(sum(CASE WHEN i.pos < f.cut THEN i.n ELSE 0 END)
                AS BIGINT) AS train_rows,
           CAST(sum(CASE WHEN i.pos >= f.cut
                          AND i.pos < f.cut + {h}
                         THEN i.n ELSE 0 END) AS BIGINT) AS test_rows,
           CAST(sum(CASE WHEN i.pos < f.cut THEN i.cents ELSE 0 END)
                * 1000000
                // greatest(sum(CASE WHEN i.pos < f.cut
                                     THEN i.n ELSE 0 END), 1)
                AS BIGINT) AS train_mean_micros,
           CAST(sum(CASE WHEN i.pos >= f.cut AND i.pos < f.cut + {h}
                         THEN i.cents ELSE 0 END) * 1000000
                // greatest(sum(CASE WHEN i.pos >= f.cut
                                      AND i.pos < f.cut + {h}
                                     THEN i.n ELSE 0 END), 1)
                AS BIGINT) AS test_mean_micros
    FROM folds f CROSS JOIN idx i
    GROUP BY f.f, f.cut
    """


@query(
    "rolling_origin_backtest_folds", oracle=_backtest_oracle()
)
def rolling_origin_backtest_folds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROLLING-ORIGIN BACKTEST FOLD PLAN — time-series
    cross-validation (the temporal twin of the graduating
    stratified_kfold_assignment): {_BT_FOLDS} expanding-origin folds,
    each training on all days before its cut and testing on the next
    {_BT_HORIZON}-day window, with per-fold train/test row counts and
    exact floor-micros mean values — the leakage-free evaluation
    schedule every forecasting and drift-monitoring pipeline needs
    (a shuffled k-fold would leak the future into training).

    Scale shape: one partial+final aggregate to the bounded day
    frame; the fold plan is a {_BT_FOLDS}-row literal frame crossed
    with that bounded frame. The fact scan is touched once,
    regardless of fold count — folds are WINDOWS over the aggregate,
    not re-scans.

    Reference basis: evaluation/split family (stratified_kfold r13,
    temporal_split_straddle_audit r14, hash_split_assignment r2 —
    this adds the expanding-origin schedule)."""
    k, h = _BT_FOLDS, _BT_HORIZON
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    idx = daily.select(
        "n",
        "cents",
        (F.row_number().over(Window.orderBy("d")) - 1).alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nd"),
    )
    folds = spark.range(k).select(F.col("id").alias("fold"))
    j = folds.crossJoin(idx).select(
        "fold",
        "pos",
        "n",
        "cents",
        (F.col("nd") - (k - F.col("fold")) * h).alias("cut"),
    )
    in_train = F.col("pos") < F.col("cut")
    in_test = (F.col("pos") >= F.col("cut")) & (
        F.col("pos") < F.col("cut") + h
    )
    return j.groupBy("fold", "cut").agg(
        F.sum(F.when(in_train, F.col("n")).otherwise(0))
        .cast("long")
        .alias("train_rows"),
        F.sum(F.when(in_test, F.col("n")).otherwise(0))
        .cast("long")
        .alias("test_rows"),
        F.floor(
            F.sum(F.when(in_train, F.col("cents")).otherwise(0))
            * 1000000
            / F.greatest(
                F.sum(F.when(in_train, F.col("n")).otherwise(0)),
                F.lit(1),
            )
        )
        .cast("long")
        .alias("train_mean_micros"),
        F.floor(
            F.sum(F.when(in_test, F.col("cents")).otherwise(0))
            * 1000000
            / F.greatest(
                F.sum(F.when(in_test, F.col("n")).otherwise(0)),
                F.lit(1),
            )
        )
        .cast("long")
        .alias("test_mean_micros"),
    ).select(
        F.col("fold").cast("long"),
        F.col("cut").cast("long").alias("train_days"),
        "train_rows",
        "test_rows",
        "train_mean_micros",
        "test_mean_micros",
    )


# ------------------- DPO preference-pair mining --

_DPO_MIN_MARGIN_CENTS = 2000


def _dpo_oracle(margin: int = _DPO_MIN_MARGIN_CENTS) -> str:
    return f"""
    WITH scored AS (
        SELECT user_id, event_id, event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    best AS (
        SELECT user_id,
               min_by(event_id,
                      (-cents) * 4398046511104 + event_id)
                   AS chosen_id,
               max(cents) AS chosen_cents
        FROM scored GROUP BY user_id
    ),
    worst AS (
        SELECT user_id,
               min_by(event_id,
                      cents * 4398046511104 + event_id)
                   AS rejected_id,
               min(cents) AS rejected_cents
        FROM scored GROUP BY user_id
    )
    SELECT b.user_id,
           b.chosen_id, w.rejected_id,
           b.chosen_cents, w.rejected_cents,
           b.chosen_cents - w.rejected_cents AS margin_cents
    FROM best b JOIN worst w USING (user_id)
    WHERE b.chosen_cents - w.rejected_cents >= {margin}
      AND b.chosen_id != w.rejected_id
    """


@query("dpo_margin_pair_mining", oracle=_dpo_oracle())
def dpo_margin_pair_mining(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PREFERENCE-PAIR MINING for DPO/RLHF training data — per prompt
    (user_id as the prompt key), pair the highest-scored response
    (chosen) with the lowest (rejected), deterministic ties to the
    smallest event_id, and keep only pairs whose score margin clears
    {_DPO_MIN_MARGIN_CENTS} cents — the margin filter that keeps
    ambiguous pairs out of the preference dataset (the single
    strongest lever on DPO data quality). Exact integer cents
    throughout; argmax/argmin via composite-key min_by so both
    engines pick identical ids.

    Scale shape: ONE partial+final aggregate per side at the prompt
    grain (min_by/max_by are mergeable single-pass aggregates — no
    window, no sort), one prompt-grain join, one scan-side filter.
    Output is prompt-grain (bounded by distinct prompts), the shape
    that holds when prompts number billions.

    Reference basis: LLM-pipeline family (sft_loss_mask_plan r14
    plans the SFT pass; this plans the preference pass —
    conversation_render_budget r10 TAIL renders what these select)."""
    ev = load_table(spark, sf_dir, "events")
    scored = ev.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    # composite BIGINT ordering key (cents <= 1e4, event_id < 2^42):
    # primary score component, event_id tiebreak — exact in both engines
    best = scored.groupBy("user_id").agg(
        F.min_by(
            "event_id",
            (-F.col("cents")) * F.lit(4398046511104) + F.col("event_id"),
        ).alias("chosen_id"),
        F.max("cents").alias("chosen_cents"),
    )
    worst = scored.groupBy("user_id").agg(
        F.min_by(
            "event_id",
            F.col("cents") * F.lit(4398046511104) + F.col("event_id"),
        ).alias("rejected_id"),
        F.min("cents").alias("rejected_cents"),
    )
    return (
        best.join(worst, "user_id")
        .where(
            (
                F.col("chosen_cents") - F.col("rejected_cents")
                >= _DPO_MIN_MARGIN_CENTS
            )
            & (F.col("chosen_id") != F.col("rejected_id"))
        )
        .select(
            "user_id",
            "chosen_id",
            "rejected_id",
            "chosen_cents",
            "rejected_cents",
            (F.col("chosen_cents") - F.col("rejected_cents")).alias(
                "margin_cents"
            ),
        )
    )


# ----------- union of streams with DIFFERENT watermark delays --


@query(
    "streaming_union_multiple_watermarks",
    oracle="""
    WITH d0 AS (
        SELECT date_trunc('day', min(ts)) AS t0 FROM events
    ),
    day1 AS (
        SELECT ts, user_id FROM events, d0
        WHERE ts >= d0.t0 AND ts < d0.t0 + INTERVAL 1 DAY
    ),
    tagged AS (
        SELECT ts,
               CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS tag
        FROM day1
    ),
    wm AS (
        -- the GLOBAL watermark is the MIN across the two streams'
        -- own watermarks: stream a (even users, 10-minute delay) and
        -- stream b (odd users, 2-hour delay) each advance from their
        -- OWN max event time
        SELECT least(
            (SELECT max(ts) FROM day1 WHERE user_id % 2 = 0)
                - INTERVAL 10 MINUTE,
            (SELECT max(ts) FROM day1 WHERE user_id % 2 = 1)
                - INTERVAL 2 HOUR
        ) AS w FROM day1 LIMIT 1
    ),
    b AS (
        SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS ws, tag
        FROM tagged
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           tag,
           count(*) AS n
    FROM b, wm
    WHERE ws + INTERVAL 15 MINUTE <= wm.w
    GROUP BY ws, tag
    """,
)
def streaming_union_multiple_watermarks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UNION OF STREAMS WITH DIFFERENT WATERMARK DELAYS — the
    multiple-watermark GLOBAL-MIN policy graded as a value (Spark's
    default spark.sql.streaming.multipleWatermarkPolicy=min): stream
    A carries the even-user half of day 1 with a 10-MINUTE delay,
    stream B the odd-user half with a 2-HOUR delay, and the unioned
    15-minute tumbling count runs in append mode. The global
    watermark is min(maxA - 10min, maxB - 2h) — effectively maxB-2h,
    so the LAX stream holds the whole union back and the emitted
    closed-set stops ~2 hours early. If the engine wrongly advanced
    on stream A's tighter watermark it would emit ~7 more windows
    per tag and the value hash would fail — the policy is
    observable, not vacuous.

    Fixture: the proven ordered-file device (mtime-forced,
    maxFilesPerTrigger=1, three files per stream: bulk, max-ts row,
    then a duplicate max-ts row whose window can never close — it
    exists only to trigger the final batch in which the
    fully-advanced global watermark flushes the closed set). Fixture
    dirs and the auto checkpoint are reclaimed (round-15 hygiene).

    Scale shape: standard union + watermarked tumbling aggregate —
    state bounded by open windows of the union; the min policy is
    exactly what bounds correctness (never emit a window a lagging
    source could still fill) when a 100 TB ingest fans in from
    sources with different latencies.

    Reference basis: SURVEY §2.9 T4/U2 (watermark x union): the
    reference unions two Kafka topics into one windowed aggregate
    (SparkWeatherConsumer.scala:232) with a single delay; this grades
    what its deployment would hit the day the topics lag
    differently."""
    import os
    import shutil
    import tempfile
    import uuid

    from sparkksqldbbenchmark_spark.streaming.pipeline import (
        run_to_memory,
    )

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("t0")
    )
    day1 = (
        ev.crossJoin(F.broadcast(bounds))
        .where(
            (F.col("ts") >= F.col("t0"))
            & (F.col("ts") < F.col("t0") + F.expr("INTERVAL 1 DAY"))
        )
        .select("ts", "user_id", "event_id")
    )
    wlast = Window.orderBy(F.desc("ts"), F.desc("event_id"))
    base = tempfile.mkdtemp(prefix="multiwm_")
    try:
        dirs = {}
        for tag, parity in (("a", 0), ("b", 1)):
            part = day1.where(F.col("user_id") % 2 == parity)
            marked = part.withColumn(
                "__rk", F.row_number().over(wlast)
            )
            head = marked.where(F.col("__rk") > 1).select("ts")
            tail = marked.where(F.col("__rk") == 1).select("ts")
            sdir = os.path.join(base, f"stream_{tag}")
            os.makedirs(sdir)
            for i, part_df in enumerate((head, tail, tail)):
                tmp = os.path.join(base, f"part_{tag}{i}")
                part_df.coalesce(1).write.mode("overwrite").parquet(
                    tmp
                )
                pf = [
                    f
                    for f in os.listdir(tmp)
                    if f.endswith(".parquet")
                ][0]
                dst = os.path.join(sdir, f"file{i}.parquet")
                shutil.copy(os.path.join(tmp, pf), dst)
                os.utime(dst, (1_700_000_000 + i * 60,) * 2)
            dirs[tag] = sdir
        sa = (
            spark.readStream.schema("ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(dirs["a"])
            .withWatermark("ts", "10 minutes")
            .select("ts", F.lit("a").alias("tag"))
        )
        sb = (
            spark.readStream.schema("ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(dirs["b"])
            .withWatermark("ts", "2 hours")
            .select("ts", F.lit("b").alias("tag"))
        )
        agged = (
            sa.unionByName(sb)
            .groupBy(F.window("ts", "15 minutes").alias("w"), "tag")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.date_format(
                    "w.start", "yyyy-MM-dd HH:mm:ss"
                ).alias("window_start"),
                "tag",
                "n",
            )
        )
        name = f"multiwm_{uuid.uuid4().hex[:8]}"
        q = run_to_memory(agged, name, output_mode="append")
        q.stop()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    # the duplicate max-ts file only populates the never-closing last
    # window, so the emitted (append-mode) set is unaffected by it
    return spark.table(name)


# ----------- cardinality estimator under planted skew (the twin) --


def _cardinality_skew_oracle(nb: int = _CARD_BUCKETS) -> str:
    skew = "CASE WHEN o_custkey % 97 < 30 THEN 0 ELSE o_custkey END"
    skew_l = "CASE WHEN c % 97 < 30 THEN 0 ELSE c END"
    return f"""
    WITH ok AS (
        SELECT {skew} AS k FROM orders
    ),
    ck AS (
        SELECT {skew_l} AS k
        FROM (SELECT c_custkey AS c FROM customer)
    ),
    o AS (
        SELECT k % {nb} AS bkt, count(*) AS n,
               count(DISTINCT k) AS d
        FROM ok GROUP BY 1
    ),
    c AS (
        SELECT k % {nb} AS bkt, count(*) AS n,
               count(DISTINCT k) AS d
        FROM ck GROUP BY 1
    ),
    est AS (
        SELECT CAST(sum(o.n * c.n // greatest(c.d, 1)) AS BIGINT)
                   AS predicted
        FROM o JOIN c ON c.bkt = o.bkt
    ),
    act AS (
        SELECT CAST(count(*) AS BIGINT) AS actual
        FROM ok JOIN ck ON ck.k = ok.k
    )
    SELECT est.predicted, act.actual,
           CAST(est.predicted * 1000000 // act.actual AS BIGINT)
               AS ratio_micros,
           (est.predicted * 10 >= act.actual
            AND est.predicted <= act.actual * 10) AS within_10x
    FROM est, act
    """


@query(
    "join_cardinality_skew_twin", oracle=_cardinality_skew_oracle()
)
def join_cardinality_skew_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE CARDINALITY ESTIMATOR'S FAILURE MODE, planted and graded —
    the skew twin of join_cardinality_histogram_estimate: ~31% of
    custkeys on BOTH sides collapse onto one hot key (key 0), so
    bucket 0 mixes a massive hot key with ordinary keys and the
    uniformity-within-bucket assumption shatters: the estimator
    spreads the hot mass across the bucket's distinct keys and
    UNDERESTIMATES the true (hot x hot) product — measured ratio
    0.37 / 0.067 / 0.007 across sf0.001/0.01/0.1 (the error GROWS
    with scale as more distinct keys dilute the bucket), flipping
    the within-10x certificate to FALSE from sf0.01 up. Grading
    predicted, actual, the floor-micros ratio and the certificate
    pins the failure quantitatively — the measured reason real optimizers track
    heavy hitters SEPARATELY from histograms (Spark's own skew-join
    handling, the Misra-Gries row's production role).

    Scale shape: identical to the uniform twin — two bounded
    histograms, one bounded estimate join; the exact join exists to
    grade the estimator. Together the twins bracket the estimator's
    operating envelope: trustworthy under near-uniform keys,
    catastrophically optimistic under undetected heavy hitters.

    Reference basis: scale-pattern family (skewed_join_replicated r2
    handles planted skew; heavy_hitters_misra_gries r12 detects it;
    this row measures WHY detection is mandatory before estimation)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    skew = F.when(
        F.col("o_custkey") % 97 < 30, F.lit(0)
    ).otherwise(F.col("o_custkey"))
    skew_c = F.when(
        F.col("c_custkey") % 97 < 30, F.lit(0)
    ).otherwise(F.col("c_custkey"))
    ok = orders.select(skew.alias("k"))
    ck = customer.select(skew_c.alias("k"))
    o = ok.groupBy((F.col("k") % _CARD_BUCKETS).alias("bkt")).agg(
        F.count(F.lit(1)).alias("n_o"),
        F.countDistinct("k").alias("d_o"),
    )
    c = ck.groupBy((F.col("k") % _CARD_BUCKETS).alias("bkt")).agg(
        F.count(F.lit(1)).alias("n_c"),
        F.countDistinct("k").alias("d_c"),
    )
    est = o.join(c, "bkt").agg(
        F.sum(
            F.floor(
                F.col("n_o")
                * F.col("n_c")
                / F.greatest(F.col("d_c"), F.lit(1))
            )
        )
        .cast("long")
        .alias("predicted")
    )
    # actual = Σ_k n_o(k)·n_c(k) at KEY grain — the identical integer
    # the row-grain join count produces (each key contributes exactly
    # n_o·n_c pairs), without materializing the planted hot key's
    # n_o·n_c row blow-up in a single task (guide §3.4: never explode
    # a join you only aggregate). The graded failure is the
    # ESTIMATOR's, not the grader's.
    act = (
        ok.groupBy("k")
        .agg(F.count(F.lit(1)).alias("a_o"))
        .join(
            ck.groupBy("k").agg(F.count(F.lit(1)).alias("a_c")), "k"
        )
        .agg(
            F.coalesce(F.sum(F.col("a_o") * F.col("a_c")), F.lit(0))
            .cast("long")
            .alias("actual")
        )
    )
    return est.crossJoin(F.broadcast(act)).select(
        "predicted",
        "actual",
        F.floor(F.col("predicted") * 1000000 / F.col("actual"))
        .cast("long")
        .alias("ratio_micros"),
        (
            (F.col("predicted") * 10 >= F.col("actual"))
            & (F.col("predicted") <= F.col("actual") * 10)
        ).alias("within_10x"),
    )


# ------------------- reciprocal-rank fusion, exact --

_RRF_K = 60
_RRF_TOPN = 40
_RRF_OUT = 5


def _rrf_oracle(
    k: int = _RRF_K, topn: int = _RRF_TOPN, out: int = _RRF_OUT
) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    q = f"({sql_md5_int('text')} % 1000)"
    return f"""
    WITH sliced AS (
        SELECT source, doc_id, n_chars, {q} AS quality
        FROM (
            SELECT source, doc_id, n_chars, text,
                   row_number() OVER (
                       PARTITION BY source ORDER BY doc_id
                   ) AS rn
            FROM documents
        ) WHERE rn <= {topn}
    ),
    ranked AS (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id
               ) AS r1,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY quality DESC, doc_id
               ) AS r2
        FROM sliced
    ),
    fused AS (
        SELECT source, doc_id, r1, r2,
               (2 * {k} + r1 + r2) AS num,
               ({k} + r1) * ({k} + r2) AS den
        FROM ranked
    ),
    ordered AS (
        SELECT source, doc_id, r1, r2, num, den,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY num * 1099511627776 // den DESC, doc_id
               ) AS fused_rank
        FROM fused
    )
    SELECT source, CAST(fused_rank AS BIGINT) AS fused_rank,
           doc_id, CAST(r1 AS BIGINT) AS rank_by_length,
           CAST(r2 AS BIGINT) AS rank_by_quality,
           CAST(num * 1000000 // den AS BIGINT) AS rrf_micros
    FROM ordered WHERE fused_rank <= {out}
    """


@query("reciprocal_rank_fusion_exact", oracle=_rrf_oracle())
def reciprocal_rank_fusion_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RECIPROCAL-RANK FUSION, exact — the standard hybrid-retrieval
    combiner (Cormack et al. 2009: fuse a lexical and a semantic
    ranking by summing 1/(k + rank)): two per-source rankings (by
    length, by the deterministic md5 quality score) fuse as the exact
    rational (2k + r1 + r2) / ((k+r1)(k+r2)), ordered by the same
    floor-key embedding the PAV row uses (numerators/denominators
    bounded by (k+topn)^2 = 10^4 < 2^20, so num*2^40//den is a strict
    order embedding) with doc_id ties — both engines pick the
    identical fused top-{_RRF_OUT} per source, graded with ranks and
    floor-micros scores.

    Scale shape: the slice is bounded per source BEFORE ranking; two
    bounded windows + one bounded ordering. In the production form
    the two input rankings arrive top-K from their retrievers
    (bounded by construction) — RRF's whole point is that it needs
    only ranks, never scores, so the fusion never touches the
    corpus.

    Reference basis: ranking/retrieval family (bm25_odds_retrieval
    r10, similarity_topk_cosine r3, ann_mrr_certified r8 — this adds
    the fusion operator hybrid search deploys in front of both)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    docs = load_table(spark, sf_dir, "documents")
    sliced = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.expr(f"({spark_md5_int('text')}) % 1000").alias("quality"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy("doc_id"))
        .alias("rn"),
    ).where(F.col("rn") <= _RRF_TOPN)
    ranked = sliced.select(
        "source",
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.col("n_chars").desc(), "doc_id"
            )
        )
        .alias("r1"),
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.col("quality").desc(), "doc_id"
            )
        )
        .alias("r2"),
    )
    k = _RRF_K
    fused = ranked.select(
        "source",
        "doc_id",
        "r1",
        "r2",
        (2 * k + F.col("r1") + F.col("r2")).alias("num"),
        ((k + F.col("r1")) * (k + F.col("r2"))).alias("den"),
    )
    key = F.floor(
        (F.col("num") * F.lit(1099511627776)) / F.col("den")
    ).cast("long")
    return (
        fused.select(
            "source",
            "doc_id",
            "r1",
            "r2",
            "num",
            "den",
            F.row_number()
            .over(
                Window.partitionBy("source").orderBy(
                    key.desc(), "doc_id"
                )
            )
            .alias("fused_rank"),
        )
        .where(F.col("fused_rank") <= _RRF_OUT)
        .select(
            "source",
            F.col("fused_rank").cast("long"),
            "doc_id",
            F.col("r1").cast("long").alias("rank_by_length"),
            F.col("r2").cast("long").alias("rank_by_quality"),
            F.floor(F.col("num") * 1000000 / F.col("den"))
            .cast("long")
            .alias("rrf_micros"),
        )
    )


# ------------- content-defined chunking cross-doc dedup mass --


def _cdc_oracle() -> str:
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
               CASE WHEN ({h} & 15) = 0 THEN 1 ELSE 0 END AS f
        FROM words w
    ),
    cids AS (
        SELECT doc_id, source, i, w,
               coalesce(sum(f) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS cid
        FROM flagged
    ),
    chunks AS (
        SELECT doc_id, source, cid,
               md5(string_agg(w, ' ' ORDER BY i)) AS ch,
               count(*) AS toks
        FROM cids GROUP BY doc_id, source, cid
    ),
    global_cnt AS (
        SELECT ch, count(*) AS cnt FROM chunks GROUP BY ch
    )
    SELECT c.source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(c.toks) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN g.cnt > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS shared_chunks,
           CAST(sum(CASE WHEN g.cnt > 1 THEN c.toks ELSE 0 END)
                AS BIGINT) AS shared_token_mass,
           CAST(sum(CASE WHEN g.cnt > 1 THEN c.toks ELSE 0 END)
                * 1000000 // sum(c.toks) AS BIGINT) AS share_micros
    FROM chunks c JOIN global_cnt g ON g.ch = c.ch
    GROUP BY c.source
    """


@query("cdc_chunk_dedup_mass", oracle=_cdc_oracle())
def cdc_chunk_dedup_mass(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTENT-DEFINED CHUNKING cross-document dedup mass — the
    storage-dedup / delta-sync operator (rsync, LBFS, every modern
    backup system): chunk boundaries fall where a content hash of the
    word says so (md5 & 15 == 0, expected chunk ~16 words), so an
    insertion early in a document shifts NO later boundaries — unlike
    fixed-width blocks, identical passages chunk identically wherever
    they sit. Chunks hash to identities; per source the row grades
    chunk/token counts, the chunks shared with ANY other instance
    corpus-wide, and the shared-token mass (floor micros) a
    chunk-store would deduplicate. The word-grain twin of the
    passage/exact-substring dedup family, with the CDC boundary rule
    that makes it shift-invariant.

    Scale shape: boundary assignment and chunk construction are ONE
    scan-side fold (the sentence-splitter machinery with a hash
    predicate — zero exchanges to build chunks); the only shuffles
    are the chunk-identity aggregate (collapsing, uniform md5 keys)
    and the source rollup. Chunk instances never carry text past the
    md5 — the chunk-store access pattern at 100 TB.

    Reference basis: dedup family (exact_substring_spans r9,
    passage_dup_stats r4, doc_chunk_stride r7 TAIL — this adds the
    SHIFT-INVARIANT chunk grain those fixed-stride rows cannot
    express)."""
    from sparkksqldbbenchmark_spark.llm.hashing import (
        spark_md5_int,
        spark_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.expr(spark_tokens("text")).alias("toks"),
    ).where(F.size("toks") > 0)
    pairs = (
        f"zip_with(toks, transform(toks, w -> "
        f"({spark_md5_int('w')} & 15) = 0), "
        f"(w, f) -> struct(w as w, f as f))"
    )
    chunks_expr = (
        f"aggregate({pairs},"
        " struct(cast(array() as array<string>) as cs, '' as cur),"
        " (a, p) -> if(p.f,"
        "   struct(concat(a.cs, array(if(a.cur = '', p.w,"
        "          concat(a.cur, ' ', p.w)))) as cs, '' as cur),"
        "   struct(a.cs as cs, if(a.cur = '', p.w,"
        "          concat(a.cur, ' ', p.w)) as cur)),"
        " a -> if(a.cur != '', concat(a.cs, array(a.cur)), a.cs))"
    )
    chunks = (
        toks.withColumn("cs", F.expr(chunks_expr))
        .select(
            "doc_id",
            "source",
            F.explode("cs").alias("chunk"),
        )
        .select(
            "source",
            F.md5("chunk").alias("ch"),
            (F.size(F.split(F.col("chunk"), " "))).alias("toks"),
        )
    )
    global_cnt = chunks.groupBy("ch").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    shared = F.col("cnt") > 1
    return (
        chunks.join(global_cnt, "ch")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("toks").cast("long").alias("n_tokens"),
            F.sum(F.when(shared, 1).otherwise(0))
            .cast("long")
            .alias("shared_chunks"),
            F.sum(F.when(shared, F.col("toks")).otherwise(0))
            .cast("long")
            .alias("shared_token_mass"),
            F.floor(
                F.sum(F.when(shared, F.col("toks")).otherwise(0))
                * 1000000
                / F.sum("toks")
            )
            .cast("long")
            .alias("share_micros"),
        )
    )


# --------- Shapley by sampled permutations, certified vs exact --

_SHAP_DRAWS = 240


def _perm_grid() -> list[tuple[int, int, int, int]]:
    """(perm_id, step, chan_idx, prefix_mask) for all 24 permutations
    of 4 channels — the literal grid both engines share."""
    import itertools

    rows = []
    for pid, perm in enumerate(itertools.permutations(range(4))):
        mask = 0
        for step, c in enumerate(perm):
            rows.append((pid, step, c, mask))
            mask |= 1 << c
    return rows


def _shapley_sampled_oracle(draws: int = _SHAP_DRAWS) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    chans = _SHAPLEY_CHANNELS
    n = len(chans)
    bits = " + ".join(
        f"max(CASE WHEN event_type = '{c}' THEN {1 << i} ELSE 0 END)"
        for i, c in enumerate(chans)
    )
    import math

    wcase = " ".join(
        f"WHEN {s} THEN {math.factorial(s) * math.factorial(n - 1 - s)}"
        for s in range(n)
    )
    grid = ", ".join(
        f"({pid}, {step}, {c}, {mask})"
        for pid, step, c, mask in _perm_grid()
    )
    h = sql_md5_int("CAST(d.b AS VARCHAR)")
    return f"""
    WITH per_user AS (
        SELECT user_id,
               CAST({bits} AS BIGINT) AS mask,
               max(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ),
    v AS (
        SELECT m.mask,
               CAST(coalesce(sum(p.converted), 0) * 1000000
                    // greatest(count(p.user_id), 1) AS BIGINT)
                   AS v_micros
        FROM (SELECT unnest(range({1 << n})) AS mask) m
        LEFT JOIN per_user p ON p.mask = m.mask
        GROUP BY m.mask
    ),
    grid(perm_id, step, chan_idx, prefix_mask) AS (
        VALUES {grid}
    ),
    draws AS (
        SELECT d.b, ({h} % 24) AS pid
        FROM (SELECT unnest(range({draws})) AS b) d
    ),
    sampled AS (
        SELECT g.chan_idx,
               CAST(sum(vw.v_micros - vo.v_micros) AS BIGINT)
                   AS sum_delta_micros
        FROM draws d
        JOIN grid g ON g.perm_id = d.pid
        JOIN v vo ON vo.mask = g.prefix_mask
        JOIN v vw ON vw.mask = (g.prefix_mask
                                | (1 << g.chan_idx))
        GROUP BY g.chan_idx
    ),
    exact AS (
        SELECT c.i AS chan_idx,
               CAST(sum((CASE bit_count(s.mask & ~(1 << c.i))
                         {wcase} END)
                        * (vw.v_micros - vo.v_micros)) AS BIGINT)
                   AS phi_weighted_micros
        FROM (SELECT unnest(range({n})) AS i) c
        JOIN (SELECT unnest(range({1 << n})) AS mask) s
          ON (s.mask & (1 << c.i)) = 0
        JOIN v vo ON vo.mask = s.mask
        JOIN v vw ON vw.mask = (s.mask | (1 << c.i))
        GROUP BY c.i
    )
    SELECT CASE sa.chan_idx {" ".join(
        f"WHEN {i} THEN '{c}'" for i, c in enumerate(chans))} END
               AS channel,
           sa.sum_delta_micros,
           e.phi_weighted_micros,
           CAST(abs({draws // 24} * e.phi_weighted_micros
                    - sa.sum_delta_micros) AS BIGINT)
               AS abs_err_scaled
    FROM sampled sa JOIN exact e ON e.chan_idx = sa.chan_idx
    """


@query(
    "shapley_sampled_permutations_certified",
    oracle=_shapley_sampled_oracle(),
)
def shapley_sampled_permutations_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SHAPLEY BY SAMPLED PERMUTATIONS, certified against the exact
    sum — the estimator that survives past ~20 channels where exact
    coalition enumeration (2^n) dies: {_SHAP_DRAWS} md5-deterministic
    permutation draws, each contributing every channel's marginal
    v(prefix+c) - v(prefix) along the drawn order. With 4 channels
    the exact value is computable, so the row grades the sampled sum
    NEXT TO the exact weighted sum and the scaled absolute error —
    the estimator's measured bias on this data (zero in expectation;
    the md5 draw sequence makes it reproducible). The 24-permutation
    (perm, step, channel, prefix-mask) grid is a shared literal in
    both engines.

    Scale shape: the fact scan collapses at the same user-grain
    aggregate as the exact row; draws join the LITERAL grid and the
    16-row v frame — bounded regardless of draw count or data size.
    At 20+ channels the grid generalizes to md5-decoded permutation
    prefixes with the identical draw device; v(S) lookups stay
    aggregate-grain.

    Reference basis: attribution family (shapley_attribution_exact
    staged this round; bootstrap_ci_daily_mean shares the
    deterministic-resampling device)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    import math

    chans = _SHAPLEY_CHANNELS
    n = len(chans)
    ev = load_table(spark, sf_dir, "events")
    mask_expr = None
    for i, c in enumerate(chans):
        term = F.max(
            F.when(F.col("event_type") == c, 1 << i).otherwise(0)
        )
        mask_expr = term if mask_expr is None else mask_expr + term
    per_user = ev.groupBy("user_id").agg(
        mask_expr.cast("long").alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    mgrid = spark.range(1 << n).select(F.col("id").alias("mask"))
    v = (
        mgrid.join(per_user, "mask", "left")
        .groupBy("mask")
        .agg(
            F.floor(
                F.coalesce(F.sum("converted"), F.lit(0))
                * 1000000
                / F.greatest(F.count("user_id"), F.lit(1))
            )
            .cast("long")
            .alias("v_micros")
        )
    )
    grid = spark.createDataFrame(
        _perm_grid(), "perm_id int, step int, chan_idx int, prefix_mask int"
    )
    h = spark_md5_int("cast(id as string)")
    draws = spark.range(_SHAP_DRAWS).select(
        F.expr(f"({h}) % 24").alias("pid")
    )
    vo = v.select(
        F.col("mask").alias("mask_o"), F.col("v_micros").alias("v_o")
    )
    vw = v.select(
        F.col("mask").alias("mask_w"), F.col("v_micros").alias("v_w")
    )
    sampled = (
        draws.join(F.broadcast(grid), draws.pid == grid.perm_id)
        .join(
            F.broadcast(vo), F.col("mask_o") == F.col("prefix_mask")
        )
        .join(
            F.broadcast(vw),
            F.expr(
                "mask_w = (prefix_mask"
                " | shiftleft(1, cast(chan_idx as int)))"
            ),
        )
        .groupBy("chan_idx")
        .agg(
            F.sum(F.col("v_w") - F.col("v_o"))
            .cast("long")
            .alias("sum_delta_micros")
        )
    )
    cframe = spark.range(n).select(F.col("id").alias("ci"))
    s = mgrid.join(
        cframe,
        F.expr("(mask & shiftleft(1L, cast(ci as int))) = 0"),
    )
    wmap = {
        k: math.factorial(k) * math.factorial(n - 1 - k)
        for k in range(n)
    }
    wexpr = F.when(F.lit(False), 0)
    sz = F.bit_count(F.col("mask"))
    for kk, wt in wmap.items():
        wexpr = wexpr.when(sz == kk, wt)
    exact = (
        s.join(
            F.broadcast(vo), F.col("mask_o") == F.col("mask")
        )
        .join(
            F.broadcast(vw),
            F.expr("mask_w = (mask | shiftleft(1L, cast(ci as int)))"),
        )
        .groupBy("ci")
        .agg(
            F.sum(wexpr * (F.col("v_w") - F.col("v_o")))
            .cast("long")
            .alias("phi_weighted_micros")
        )
    )
    cname = F.when(F.lit(False), "")
    for i, c in enumerate(chans):
        cname = cname.when(F.col("chan_idx") == i, c)
    scale = _SHAP_DRAWS // 24
    return (
        sampled.join(exact, sampled.chan_idx == exact.ci)
        .select(
            cname.alias("channel"),
            "sum_delta_micros",
            "phi_weighted_micros",
            F.abs(
                scale * F.col("phi_weighted_micros")
                - F.col("sum_delta_micros")
            )
            .cast("long")
            .alias("abs_err_scaled"),
        )
    )


# --------- Fagin threshold-algorithm top-k, completeness-certified --

_TA_DEPTH = 64
_TA_K = 10


def _fagin_oracle(d: int = _TA_DEPTH, k: int = _TA_K) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    q = f"({sql_md5_int('text')} % 1000)"
    return f"""
    WITH scored AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS a,
               CAST({q} AS BIGINT) AS b
        FROM documents
    ),
    top_a AS (
        SELECT doc_id, a FROM scored
        ORDER BY a DESC, doc_id LIMIT {d}
    ),
    top_b AS (
        SELECT doc_id, b FROM scored
        ORDER BY b DESC, doc_id LIMIT {d}
    ),
    thresh AS (
        SELECT (SELECT min(a) FROM top_a)
             + (SELECT min(b) FROM top_b) AS t
    ),
    cand AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id FROM top_a
            UNION ALL SELECT doc_id FROM top_b
        )
    ),
    rescored AS (
        SELECT s.doc_id, s.a, s.b, s.a + s.b AS total
        FROM cand c JOIN scored s ON s.doc_id = c.doc_id
    ),
    topk AS (
        SELECT doc_id, a, b, total,
               row_number() OVER (
                   ORDER BY total DESC, doc_id) AS rank
        FROM rescored
    )
    SELECT CAST(tk.rank AS BIGINT) AS rank, tk.doc_id,
           tk.a AS score_a, tk.b AS score_b, tk.total,
           th.t AS threshold,
           ((SELECT min(total) FROM topk WHERE rank <= {k}) >= th.t)
               AS complete_at_depth
    FROM topk tk, thresh th
    WHERE tk.rank <= {k}
    """


@query("fagin_ta_topk_certified", oracle=_fagin_oracle())
def fagin_ta_topk_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FAGIN'S THRESHOLD ALGORITHM top-k, completeness-certified —
    the classic middleware top-k (Fagin, Lotem & Naor 2001): combine
    two rankings (length, md5 quality) WITHOUT scanning either list
    past depth {_TA_DEPTH}: sorted access takes the top-{_TA_DEPTH}
    of each list, random access rescoring runs only over their union
    (<= 2x{_TA_DEPTH} candidates), and the THRESHOLD T = a_(d) +
    b_(d) certifies completeness in-query — when the k-th candidate
    total >= T, NO unseen doc can beat it (any unseen doc has a <
    a_(d) AND b < b_(d)), so the candidate-limited top-{_TA_K} IS
    the global top-{_TA_K}. The certificate is graded as a value;
    the witness verifies the theorem against the global brute force.

    Scale shape: the two depth-{_TA_DEPTH} accesses compile to
    TakeOrderedAndProject (per-partition heaps + one bounded merge,
    never a global sort); random access is one broadcast semi-join
    of the bounded candidate set against the scan; everything after
    runs on <= 2x{_TA_DEPTH} rows. This is how a 100 TB store serves
    combined-score top-k without a full-corpus rescore — the bounded
    early-termination twin of the RRF row's rank-only fusion.

    Reference basis: sorts/limits family (SURVEY §2.6 O2/O4 top-k;
    top_k_values r1, weighted_sample_priority r7 TAIL — this adds
    the multi-list threshold form with its completeness proof)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    d, k = _TA_DEPTH, _TA_K
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("a"),
        F.expr(f"({spark_md5_int('text')}) % 1000")
        .cast("long")
        .alias("b"),
    )
    top_a = scored.select("doc_id", "a").orderBy(
        F.col("a").desc(), "doc_id"
    ).limit(d)
    top_b = scored.select("doc_id", "b").orderBy(
        F.col("b").desc(), "doc_id"
    ).limit(d)
    thresh = (
        top_a.agg(F.min("a").alias("a_d"))
        .crossJoin(top_b.agg(F.min("b").alias("b_d")))
        .select((F.col("a_d") + F.col("b_d")).alias("t"))
    )
    cand = (
        top_a.select("doc_id")
        .unionAll(top_b.select("doc_id"))
        .distinct()
    )
    rescored = scored.join(F.broadcast(cand), "doc_id").select(
        "doc_id", "a", "b", (F.col("a") + F.col("b")).alias("total")
    )
    topk = rescored.select(
        "doc_id",
        "a",
        "b",
        "total",
        F.row_number()
        .over(Window.orderBy(F.col("total").desc(), "doc_id"))
        .alias("rank"),
    )
    kth = topk.where(F.col("rank") <= k).agg(
        F.min("total").alias("kth_total")
    )
    return (
        topk.where(F.col("rank") <= k)
        .crossJoin(F.broadcast(thresh))
        .crossJoin(F.broadcast(kth))
        .select(
            F.col("rank").cast("long"),
            "doc_id",
            F.col("a").alias("score_a"),
            F.col("b").alias("score_b"),
            "total",
            F.col("t").alias("threshold"),
            (F.col("kth_total") >= F.col("t")).alias(
                "complete_at_depth"
            ),
        )
    )


# --------------- expected reciprocal rank, exact dyadic --

_ERR_TOPN = 10
_ERR_D = 2520 * (16 ** 10)  # lcm(1..10) * 16^10: the common denominator


def _err_oracle(topn: int = _ERR_TOPN) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    q = f"({sql_md5_int('text')} % 16)"
    return f"""
    WITH ranked AS (
        SELECT source, doc_id, CAST({q} AS BIGINT) AS rel,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id
               ) AS rk
        FROM documents
    ),
    lists AS (
        SELECT source,
               list(rel ORDER BY rk) AS rels
        FROM ranked WHERE rk <= {topn}
        GROUP BY source
    ),
    folded AS (
        SELECT source, len(rels) AS n_docs,
               -- DuckDB 1.0 evaluates struct-lambda fields IN
               -- ORDER with the accumulator aliased in place, so a
               -- field reading a.prod after prod was written sees
               -- the NEW value (probed; tests pin this). acc goes
               -- FIRST so every reference is pre-update.
               list_reduce(
                   list_prepend(
                       {{acc: 0::BIGINT, prod: 1::BIGINT,
                         i: 0::BIGINT,
                         pw: {16 ** 10}::BIGINT}},
                       list_transform(rels, r ->
                           {{acc: 0::BIGINT, prod: r, i: 0::BIGINT,
                             pw: 0::BIGINT}})),
                   (a, b) -> {{
                       acc: a.acc + (2520 // (a.i + 1))
                            * (a.pw // 16) * b.prod * a.prod,
                       prod: a.prod * (16 - b.prod),
                       i: a.i + 1,
                       pw: a.pw // 16}}) AS st
        FROM lists
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           st.acc AS err_scaled,
           CAST(st.acc * 3125 // {_ERR_D // 320} AS BIGINT)
               AS err_micros
    FROM folded
    """


@query("err_exact_dyadic", oracle=_err_oracle())
def err_exact_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPECTED RECIPROCAL RANK, exact — the cascade-model ranking
    metric (Chapelle et al. 2009: the user scans down, stops at
    position i with probability R_i, so ERR = sum_i (1/i) R_i
    prod_j<i (1 - R_j)): with DYADIC relevances R = (md5 % 16)/16
    over the top-{_ERR_TOPN} per source, every term is an exact
    rational over the shared denominator lcm(1..10) * 16^10, and the
    whole metric folds as ONE integer scan-side recurrence — state
    (running product of (16 - R_j), accumulated scaled sum, position,
    16-power) — identical in Spark's aggregate HOF and DuckDB's
    list_reduce (all intermediates provably < 2^62). Completes the
    ranking-metric family (Kendall, AP, MRR, AUC) with the
    position-DISCOUNTED cascade member the others lack.

    Scale shape: one window to rank the bounded top-{_ERR_TOPN}
    slice, one collect_list at the source grain (<= {_ERR_TOPN}
    elements per group), and a zero-exchange fold over that bounded
    list. The fold-not-join form is the point: a per-position
    self-join product would be quadratic in list length; the
    recurrence is linear and never leaves the aggregate grain.

    Reference basis: evaluation family (average_precision_exact r14,
    ann_mrr_certified r8 TAIL, kendall_tau_topk_exact staged — the
    cascade-model member)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    topn = _ERR_TOPN
    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.select(
        "source",
        "doc_id",
        F.expr(f"({spark_md5_int('text')}) % 16")
        .cast("long")
        .alias("rel"),
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.col("n_chars").desc(), "doc_id"
            )
        )
        .alias("rk"),
    ).where(F.col("rk") <= topn)
    lists = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.array_sort(
            F.collect_list(F.struct("rk", "rel"))
        ).alias("pairs"),
    )
    fold = (
        "aggregate(transform(pairs, p -> p.rel),"
        " struct(cast(1 as bigint) as prod,"
        "        cast(0 as bigint) as acc,"
        "        cast(0 as bigint) as i,"
        f"       cast({16 ** 10} as bigint) as pw),"
        " (a, r) -> struct("
        "   a.prod * (16 - r) as prod,"
        "   a.acc + (2520 div (a.i + 1)) * (a.pw div 16)"
        "         * r * a.prod as acc,"
        "   a.i + 1 as i,"
        "   a.pw div 16 as pw))"
    )
    return lists.select(
        "source",
        "n_docs",
        F.expr(fold + ".acc").alias("err_scaled"),
        # micros = acc*1e6/D rendered as acc*3125/(D/320): the
        # gcd-320 reduction keeps every intermediate < 2^63
        # (acc < D ~ 2.8e15, acc*3125 < 8.7e18)
        F.expr(
            f"cast(({fold}.acc * 3125) div {_ERR_D // 320} as bigint)"
        ).alias("err_micros"),
    )


# --------------- KMV/theta-sketch INTERSECTION estimate --

_KMVI_K = 64


def _kmv_intersect_oracle(k: int = _KMVI_K, n: int = 3) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import (
        sql_md5_int,
        sql_word_shingles,
    )

    sh = sql_word_shingles("text", n)
    h = sql_md5_int("t.g") + " & 2147483647"
    return f"""
    WITH hsh AS (
        SELECT DISTINCT
               CASE WHEN d.doc_id % 2 = 0 THEN 'lo' ELSE 'hi'
                    END AS grp,
               {h} AS h
        FROM documents d,
             LATERAL (SELECT unnest({sh}) AS g) t
    ),
    sk AS (
        SELECT grp, h,
               row_number() OVER (
                   PARTITION BY grp ORDER BY h) AS rk
        FROM hsh
    ),
    theta AS (
        SELECT min(mx) AS th FROM (
            SELECT grp, max(h) AS mx FROM sk
            WHERE rk <= {k} GROUP BY grp
        )
    ),
    common AS (
        SELECT count(*) AS c FROM (
            SELECT a.h FROM sk a JOIN sk b
              ON b.h = a.h AND a.grp = 'lo' AND b.grp = 'hi'
                 AND a.rk <= {k} AND b.rk <= {k}
        ) j, theta WHERE j.h < (SELECT th FROM theta)
    ),
    exact AS (
        SELECT count(*) AS x FROM (
            SELECT a.h FROM hsh a JOIN hsh b
              ON b.h = a.h AND a.grp = 'lo' AND b.grp = 'hi'
        )
    )
    SELECT CAST({k} AS BIGINT) AS k,
           CAST(t.th AS BIGINT) AS theta,
           CAST(c.c AS BIGINT) AS common_below_theta,
           CAST(c.c * 2147483647 // t.th AS BIGINT)
               AS est_intersection,
           CAST(e.x AS BIGINT) AS exact_intersection,
           CAST(abs(c.c * 2147483647 // t.th - e.x) AS BIGINT)
               AS abs_err
    FROM theta t, common c, exact e
    """


@query(
    "kmv_intersection_estimate_certified",
    oracle=_kmv_intersect_oracle(),
)
def kmv_intersection_estimate_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THETA-SKETCH INTERSECTION estimate, certified against the
    exact overlap — the sketch-ALGEBRA operator (Dasgupta et al.,
    the DataSketches theta family) completing the KMV rows' union
    axis: the even/odd doc_id halves' shingle universes (overlapping
    through the corpus's planted duplicates) compress to k-min
    sketches, theta = the smaller k-th minimum, the sketches'
    common hashes below theta scale by 2^31/theta into the
    intersection estimate, and the row grades estimate vs the EXACT
    distinct-hash overlap with the absolute error — the number that
    decides whether sketch set-algebra is accurate enough to replace
    the exact overlap join (audience overlap, cross-corpus
    contamination mass, join-size-by-sketch).

    Scale shape: each group's sketch is one distinct aggregate + one
    bounded k-min window; the intersection runs on two k-row frames.
    The EXACT overlap here exists to grade the estimator (in
    production the sketch replaces it — the same certificate
    discipline as the cardinality-estimator twins). At 100 TB the
    sketches are kilobytes and merge/intersect without touching the
    corpus again.

    Reference basis: sketch family (kmv_distinct_sketch r2,
    kmv_sketch_union_merge_certified r14, minhash_estimate_error r10
    TAIL — the intersection member)."""
    from sparkksqldbbenchmark_spark.llm.hashing import (
        spark_md5_int,
        spark_word_shingles,
    )

    k = _KMVI_K
    docs = load_table(spark, sf_dir, "documents")
    sh = F.expr(spark_word_shingles("text", 3))
    hsh = (
        docs.select(
            F.when(F.col("doc_id") % 2 == 0, "lo")
            .otherwise("hi")
            .alias("grp"),
            F.explode(sh).alias("g"),
        )
        .select(
            "grp",
            F.expr(
                f"({spark_md5_int('g')}) & 2147483647"
            ).alias("h"),
        )
        .distinct()
        # r18 (guide §5): four consumers (both sketch sides, both exact
        # sides) re-exploded and re-hashed the corpus; the (grp, h)
        # frame is narrow — materialize it once, partitioned on h so
        # the exact-overlap self-join is exchange-free
        .repartition(F.col("h"))
        .localCheckpoint(eager=True)
    )
    sk = hsh.select(
        "grp",
        "h",
        F.row_number()
        .over(Window.partitionBy("grp").orderBy("h"))
        .alias("rk"),
    ).where(F.col("rk") <= k)
    theta = (
        sk.groupBy("grp")
        .agg(F.max("h").alias("mx"))
        .agg(F.min("mx").alias("th"))
    )
    lo = sk.where(F.col("grp") == "lo").select("h")
    hi = sk.where(F.col("grp") == "hi").select(F.col("h").alias("h2"))
    common = (
        lo.join(hi, F.col("h") == F.col("h2"))
        .crossJoin(F.broadcast(theta))
        .where(F.col("h") < F.col("th"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    exact = (
        hsh.where(F.col("grp") == "lo")
        .select("h")
        .join(
            hsh.where(F.col("grp") == "hi").select(
                F.col("h").alias("h2")
            ),
            F.col("h") == F.col("h2"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    return (
        theta.crossJoin(F.broadcast(common))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(k).cast("long").alias("k"),
            F.col("th").cast("long").alias("theta"),
            F.col("c").alias("common_below_theta"),
            F.floor(F.col("c") * 2147483647 / F.col("th"))
            .cast("long")
            .alias("est_intersection"),
            F.col("x").alias("exact_intersection"),
            F.abs(
                F.floor(F.col("c") * 2147483647 / F.col("th"))
                - F.col("x")
            )
            .cast("long")
            .alias("abs_err"),
        )
    )


# --------------- padding waste: sorted vs FIFO batching --

_PAD_B = 32


def _padding_oracle(B: int = _PAD_B) -> str:
    return f"""
    WITH lens AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
                   AS n_tok
        FROM documents
    ),
    fifo AS (
        SELECT n_tok,
               (row_number() OVER (ORDER BY doc_id) - 1) // {B}
                   AS batch
        FROM lens
    ),
    srt AS (
        SELECT n_tok,
               (row_number() OVER (ORDER BY n_tok, doc_id) - 1)
                   // {B} AS batch
        FROM lens
    ),
    fifo_b AS (
        SELECT batch, count(*) AS n, max(n_tok) AS mx,
               sum(n_tok) AS s
        FROM fifo GROUP BY batch
    ),
    srt_b AS (
        SELECT batch, count(*) AS n, max(n_tok) AS mx,
               sum(n_tok) AS s
        FROM srt GROUP BY batch
    )
    SELECT * FROM (
        SELECT 'fifo' AS strategy,
               CAST(count(*) AS BIGINT) AS n_batches,
               CAST(sum(s) AS BIGINT) AS real_tokens,
               CAST(sum(n * mx - s) AS BIGINT) AS padding_tokens,
               CAST(sum(n * mx - s) * 1000000 // sum(n * mx)
                    AS BIGINT) AS waste_micros
        FROM fifo_b
        UNION ALL
        SELECT 'sorted',
               CAST(count(*) AS BIGINT),
               CAST(sum(s) AS BIGINT),
               CAST(sum(n * mx - s) AS BIGINT),
               CAST(sum(n * mx - s) * 1000000 // sum(n * mx)
                    AS BIGINT)
        FROM srt_b
    )
    """


@query(
    "padding_waste_sorted_vs_fifo", oracle=_padding_oracle()
)
def padding_waste_sorted_vs_fifo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PADDING-WASTE AUDIT, sorted vs FIFO batching — the batch-
    inference/training cost lever quantified exactly: fixed batches
    of {_PAD_B} pad every sequence to the batch max, so arrival-order
    (FIFO) batches burn compute on padding that LENGTH-SORTED
    batching avoids. Both strategies' padded-token mass is computed
    from the same corpus in exact integers (batch = floor(rank/B)
    with deterministic ties) and graded side by side — the measured
    gap IS the business case for the length-bucketed batcher (TAIL
    row length_bucketed_batching builds the production form; this
    row grades WHY).

    Scale shape: one scan-side token count, two global rank windows
    (each the two-level chunked form at scale — here the plain
    window, bounded by the graded SFs), two batch-grain aggregates,
    one 2-row rollup. The audit touches the corpus twice and
    aggregates immediately — no joins.

    Reference basis: packing family (sequence_packing r4 flagship,
    pack_composition_audit r11, length_bucketed_batching r11 TAIL)."""
    B = _PAD_B
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), "\\s+"))
        .cast("long")
        .alias("n_tok"),
    )
    def batched(order_cols, tag):
        b = lens.select(
            "n_tok",
            F.floor(
                (F.row_number().over(Window.orderBy(*order_cols)) - 1)
                / B
            ).alias("batch"),
        )
        per = b.groupBy("batch").agg(
            F.count(F.lit(1)).alias("n"),
            F.max("n_tok").alias("mx"),
            F.sum("n_tok").alias("s"),
        )
        return per.agg(
            F.lit(tag).alias("strategy"),
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("s").cast("long").alias("real_tokens"),
            F.sum(F.col("n") * F.col("mx") - F.col("s"))
            .cast("long")
            .alias("padding_tokens"),
            F.floor(
                F.sum(F.col("n") * F.col("mx") - F.col("s"))
                * 1000000
                / F.sum(F.col("n") * F.col("mx"))
            )
            .cast("long")
            .alias("waste_micros"),
        )

    fifo = batched([F.col("doc_id")], "fifo")
    srt = batched([F.col("n_tok"), F.col("doc_id")], "sorted")
    return fifo.unionByName(srt)


# --------------- split-conformal interval, exact coverage --

_CONF_ALPHA_X10 = 1  # alpha = 0.1 -> 90% target coverage


def _conformal_oracle() -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    split = f"({sql_md5_int('CAST(event_id AS VARCHAR)')} % 2)"
    return f"""
    WITH scored AS (
        SELECT event_type, event_id,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               {split} AS half
        FROM events
    ),
    pred AS (
        SELECT event_type,
               CAST(quantile_disc(cents, 0.5) AS BIGINT) AS yhat
        FROM scored WHERE half = 0 GROUP BY event_type
    ),
    resid AS (
        SELECT s.event_type, abs(s.cents - p.yhat) AS r
        FROM scored s JOIN pred p USING (event_type)
        WHERE s.half = 0
    ),
    qhat AS (
        SELECT event_type, r AS q, n FROM (
            SELECT event_type, r,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY r
                   ) AS rk,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM resid
        ) WHERE rk = least(n,
                   CAST(ceil((n + 1) * 0.9) AS BIGINT))
    ),
    test AS (
        SELECT s.event_type,
               count(*) AS n_test,
               CAST(sum(CASE WHEN abs(s.cents - p.yhat) <= q.q
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_covered
        FROM scored s
        JOIN pred p USING (event_type)
        JOIN qhat q USING (event_type)
        WHERE s.half = 1
        GROUP BY s.event_type
    )
    SELECT t.event_type,
           p.yhat AS predictor_cents,
           CAST(q.n AS BIGINT) AS n_calibration,
           CAST(q.q AS BIGINT) AS interval_radius_cents,
           CAST(t.n_test AS BIGINT) AS n_test,
           t.n_covered,
           CAST(t.n_covered * 1000000 // t.n_test AS BIGINT)
               AS coverage_micros
    FROM test t JOIN pred p USING (event_type)
    JOIN qhat q USING (event_type)
    """


@query(
    "conformal_interval_coverage_exact", oracle=_conformal_oracle()
)
def conformal_interval_coverage_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SPLIT-CONFORMAL PREDICTION INTERVALS with exact coverage — the
    distribution-free uncertainty wrapper (Vovk; Lei et al.) every
    production model ships with: an md5 half of each event_type
    calibrates (predictor = the calibration discrete median,
    conformity score =
    absolute residual, interval radius = the ceil((n+1)(1-alpha))-th
    order statistic at alpha=0.1), and the held-out half grades the
    EMPIRICAL coverage as exact floor micros — the conformal
    guarantee (coverage >= 90% in expectation) made measurable per
    type. Everything is integer cents and nearest-rank order
    statistics; both engines agree value-for-value.

    Scale shape: one scan splits and scores; the quantile is a
    per-type window over calibration rows (per-group, not global);
    coverage is one partial+final aggregate with the 1-row-per-type
    (yhat, qhat) frames broadcast into the scan. Conformal's whole
    appeal at 100 TB: calibration is a QUANTILE, not a model fit —
    one pass, mergeable, done.

    Reference basis: evaluation family (latency_percentiles r1 for
    the order-statistic machinery; bootstrap_ci_daily_mean staged —
    the model-facing uncertainty twin)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    ev = load_table(spark, sf_dir, "events")
    scored = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.expr(
            f"({spark_md5_int('cast(event_id as string)')}) % 2"
        ).alias("half"),
    )
    calib = scored.where(F.col("half") == 0)
    pred = calib.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
        .cast("long")
        .alias("yhat")
    )
    resid = calib.join(F.broadcast(pred), "event_type").select(
        "event_type",
        F.abs(F.col("cents") - F.col("yhat")).alias("r"),
    )
    w = Window.partitionBy("event_type").orderBy("r")
    qhat = (
        resid.select(
            "event_type",
            "r",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1))
            .over(Window.partitionBy("event_type"))
            .alias("n"),
        )
        .where(
            F.col("rk")
            == F.least(
                F.col("n"),
                F.ceil((F.col("n") + 1) * 0.9).cast("long"),
            )
        )
        .select(
            "event_type",
            F.col("r").alias("q"),
            F.col("n").cast("long").alias("n_calibration"),
        )
    )
    test = (
        scored.where(F.col("half") == 1)
        .join(F.broadcast(pred), "event_type")
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("cents") - F.col("yhat"))
                    <= F.col("q"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        test.join(F.broadcast(pred), "event_type")
        .join(F.broadcast(qhat), "event_type")
        .select(
            "event_type",
            F.col("yhat").alias("predictor_cents"),
            "n_calibration",
            F.col("q").alias("interval_radius_cents"),
            "n_test",
            "n_covered",
            F.floor(F.col("n_covered") * 1000000 / F.col("n_test"))
            .cast("long")
            .alias("coverage_micros"),
        )
    )


# --------------------- pinball (quantile) loss, exact --


def _pinball_oracle() -> str:
    return """
    WITH scored AS (
        SELECT event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    pred AS (
        SELECT event_type,
               CAST(quantile_disc(cents, 0.5) AS BIGINT) AS p50,
               CAST(quantile_disc(cents, 0.9) AS BIGINT) AS p90
        FROM scored GROUP BY event_type
    )
    SELECT s.event_type,
           CAST(count(*) AS BIGINT) AS n,
           p.p50 AS pred_p50, p.p90 AS pred_p90,
           CAST(sum(CASE WHEN s.cents >= p.p50
                         THEN 5 * (s.cents - p.p50)
                         ELSE 5 * (p.p50 - s.cents) END)
                AS BIGINT) AS pinball50_x10,
           CAST(sum(CASE WHEN s.cents >= p.p90
                         THEN 9 * (s.cents - p.p90)
                         ELSE 1 * (p.p90 - s.cents) END)
                AS BIGINT) AS pinball90_x10
    FROM scored s JOIN pred p USING (event_type)
    GROUP BY s.event_type, p.p50, p.p90
    """


@query("pinball_loss_exact", oracle=_pinball_oracle())
def pinball_loss_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PINBALL (QUANTILE) LOSS, exact — the metric that scores a
    quantile forecast (Koenker's check function: tau-weighted
    under-prediction vs (1-tau)-weighted over-prediction): the
    per-type exact median and discrete 90th percentile play the
    forecasters, and both losses sum as exact integers scaled by 10
    (tau = 5/10 and 9/10). The defining property — the true
    tau-quantile minimizes expected pinball loss — is what makes
    this THE evaluation for p50/p90 latency/demand forecasts; the
    witness asserts the minimizer property directly against
    perturbed predictors.

    Scale shape: one aggregate computes both predictors (exact
    median + nearest-rank p90 are single-pass order statistics per
    group), broadcast back into one partial+final loss aggregate
    over the scan. Two passes total, nothing corpus-grain after.

    Reference basis: evaluation family (latency percentiles r1,
    rolling_origin_backtest_folds staged — the loss those forecasts
    should be scored with)."""
    ev = load_table(spark, sf_dir, "events")
    scored = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    # DISCRETE quantiles: the interpolated median of an even group is
    # x.5, and Spark's long cast truncates while DuckDB's rounds —
    # percentile_disc sidesteps the cast-semantics trap entirely
    pred = scored.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
        .cast("long")
        .alias("p50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)")
        .cast("long")
        .alias("p90"),
    )
    j = scored.join(F.broadcast(pred), "event_type")
    under50 = F.col("cents") >= F.col("p50")
    under90 = F.col("cents") >= F.col("p90")
    return j.groupBy("event_type", "p50", "p90").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(under50, 5 * (F.col("cents") - F.col("p50")))
            .otherwise(5 * (F.col("p50") - F.col("cents")))
        )
        .cast("long")
        .alias("pinball50_x10"),
        F.sum(
            F.when(under90, 9 * (F.col("cents") - F.col("p90")))
            .otherwise(1 * (F.col("p90") - F.col("cents")))
        )
        .cast("long")
        .alias("pinball90_x10"),
    ).select(
        "event_type",
        "n",
        F.col("p50").alias("pred_p50"),
        F.col("p90").alias("pred_p90"),
        "pinball50_x10",
        "pinball90_x10",
    )


# --------------- maximal marginal relevance top-3, exact --

_MMR_CANDS = 8


def _mmr_oracle(nc: int = _MMR_CANDS) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import (
        sql_md5_int,
        sql_word_shingles,
    )

    q = f"({sql_md5_int('text')} % 1000)"
    sh = sql_word_shingles("text", 3)
    key = "(-(SCORE)) * 8589934592 + doc_id"
    return f"""
    WITH cand AS (
        SELECT source, doc_id, rel, shingles FROM (
            SELECT source, doc_id,
                   CAST({q} * 1000 AS BIGINT) AS rel,
                   {sh} AS shingles,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY {q} DESC, doc_id
                   ) AS rk
            FROM documents
        ) WHERE rk <= {nc}
    ),
    sim AS (
        SELECT a.source, a.doc_id AS da, b.doc_id AS db,
               CAST(len(list_intersect(a.shingles, b.shingles))
                    * 1000000
                    // greatest(len(list_distinct(
                           list_concat(a.shingles, b.shingles))), 1)
                    AS BIGINT) AS s
        FROM cand a JOIN cand b
          ON b.source = a.source AND b.doc_id != a.doc_id
    ),
    s1 AS (
        SELECT source,
               min_by(doc_id, {key.replace('SCORE', 'rel')}) AS d1
        FROM cand GROUP BY source
    ),
    sc2 AS (
        SELECT c.source, c.doc_id, c.rel,
               coalesce(s.s, 0) AS msim
        FROM cand c
        JOIN s1 ON s1.source = c.source AND c.doc_id != s1.d1
        LEFT JOIN sim s ON s.source = c.source
             AND s.da = c.doc_id AND s.db = s1.d1
    ),
    s2 AS (
        SELECT source,
               min_by(doc_id,
                      {key.replace('SCORE', '(rel - msim)')}) AS d2
        FROM sc2 GROUP BY source
    ),
    sc3 AS (
        SELECT c.source, c.doc_id, c.rel,
               greatest(coalesce(x1.s, 0), coalesce(x2.s, 0)) AS msim
        FROM cand c
        JOIN s1 ON s1.source = c.source
        JOIN s2 ON s2.source = c.source
        LEFT JOIN sim x1 ON x1.source = c.source
             AND x1.da = c.doc_id AND x1.db = s1.d1
        LEFT JOIN sim x2 ON x2.source = c.source
             AND x2.da = c.doc_id AND x2.db = s2.d2
        WHERE c.doc_id != s1.d1 AND c.doc_id != s2.d2
    ),
    s3 AS (
        SELECT source,
               min_by(doc_id,
                      {key.replace('SCORE', '(rel - msim)')}) AS d3
        FROM sc3 GROUP BY source
    ),
    picks AS (
        SELECT s1.source, 1 AS select_rank, s1.d1 AS doc_id,
               CAST(0 AS BIGINT) AS max_sim_to_prior
        FROM s1
        UNION ALL
        SELECT c.source, 2, c.doc_id, c.msim
        FROM sc2 c JOIN s2 ON s2.source = c.source
                         AND s2.d2 = c.doc_id
        UNION ALL
        SELECT c.source, 3, c.doc_id, c.msim
        FROM sc3 c JOIN s3 ON s3.source = c.source
                         AND s3.d3 = c.doc_id
    )
    SELECT p.source, CAST(p.select_rank AS BIGINT) AS select_rank,
           p.doc_id, c.rel AS rel_micros,
           p.max_sim_to_prior AS max_sim_to_prior_micros
    FROM picks p JOIN cand c
      ON c.source = p.source AND c.doc_id = p.doc_id
    """


@query("mmr_diversified_top3_exact", oracle=_mmr_oracle())
def mmr_diversified_top3_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MAXIMAL MARGINAL RELEVANCE diversified top-3 — the search-
    result/RAG-context diversifier (Carbonell & Goldstein 1998):
    greedily pick the candidate maximizing relevance minus its worst
    similarity to anything already picked (lambda = 1/2 folds to
    rel - max_sim in a shared scale). Relevance is the md5 quality
    in micros; similarity is exact 3-shingle Jaccard micros; every
    argmax is a composite-BIGINT min_by with doc_id ties, and the
    three selection rounds are UNROLLED relational steps — both
    engines execute the identical greedy trace. Grades (source,
    select_rank, doc_id, rel, max-sim-to-prior).

    Scale shape: candidates are a bounded top-{_MMR_CANDS} slice per
    source BEFORE anything pairwise (the production shape: MMR
    diversifies a retriever's short-list, never the corpus), so the
    sim frame is <= {_MMR_CANDS}^2 rows per source and each greedy
    round is a bounded join + one aggregate. Corpus size touches
    only the initial ranking window.

    Reference basis: retrieval family (similarity_topk_cosine r3,
    bm25_odds_retrieval r10 TAIL, reciprocal_rank_fusion staged —
    the diversification stage that runs AFTER all of them)."""
    from sparkksqldbbenchmark_spark.llm.hashing import (
        spark_md5_int,
        spark_word_shingles,
    )

    nc = _MMR_CANDS
    docs = load_table(spark, sf_dir, "documents")
    q = f"({spark_md5_int('text')}) % 1000"
    # rank on a NARROW projection (guide §2.3): the window shuffles
    # (source, doc_id, qv) only; shingles are computed for the
    # <= nc-per-source survivors after a broadcast join-back
    ranked = (
        docs.select(
            "source",
            "doc_id",
            F.expr(q).alias("qv"),
            F.row_number()
            .over(
                Window.partitionBy("source").orderBy(
                    F.expr(q).desc(), "doc_id"
                )
            )
            .alias("rk"),
        )
        .where(F.col("rk") <= nc)
        .select("source", "doc_id", "qv")
    )
    # consumed by both sim sides: checkpoint so the ranking runs once,
    # partitioned by source (guide §2.4, §5)
    cand = (
        docs.select("source", "doc_id", "text")
        .join(F.broadcast(ranked), ["source", "doc_id"])
        .select(
            "source",
            "doc_id",
            (F.col("qv") * 1000).cast("long").alias("rel"),
            F.expr(spark_word_shingles("text", 3)).alias("shingles"),
        )
        .repartition(F.col("source"))
        .localCheckpoint(eager=True)
    )
    a = cand.select(
        "source",
        F.col("doc_id").alias("da"),
        F.col("shingles").alias("sha"),
    )
    b = cand.select(
        "source",
        F.col("doc_id").alias("db"),
        F.col("shingles").alias("shb"),
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size(F.array_union("sha", "shb"))
    sim = (
        # bounded nc-per-source self-join: shuffled-hash (sort-free;
        # both sides already co-partitioned by the checkpoint)
        a.join(b.hint("shuffle_hash"), "source")
        .where(F.col("da") != F.col("db"))
        .select(
            "source",
            "da",
            "db",
            F.expr(
                "cast(size(array_intersect(sha, shb)) * 1000000"
                " div greatest(size(array_union(sha, shb)), 1)"
                " as bigint)"
            ).alias("s"),
        )
    )
    # r18 (guide §2.4/§4.2): the whole 3-round greedy collapses into
    # ONE cogrouped Arrow pass per source over the checkpoint-aligned
    # candidate and pair-sim frames — identical integer arithmetic
    # (score = rel − msim, argmax key = (−score)·2³³ + doc_id picked
    # by min), no per-round argmax/exclusion stages (llm/mmr.py).
    from sparkksqldbbenchmark_spark.llm.mmr import mmr_greedy_picks

    return mmr_greedy_picks(cand, sim, k=3, w=1)


# ------------- successive-halving (Hyperband rung) plan --


def _sh_oracle() -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    def rw(r):
        return (
            "("
            + sql_md5_int(
                f"(CAST(u AS VARCHAR) || '#{r}')"
            )
            + " % 1000)"
        )

    return f"""
    WITH arms AS (
        SELECT DISTINCT user_id AS u FROM events
    ),
    r0 AS (
        SELECT u, {rw(0)} AS cum,
               count(*) OVER () AS n
        FROM arms
    ),
    k0 AS (
        SELECT u, cum FROM (
            SELECT u, cum,
                   row_number() OVER (
                       ORDER BY cum DESC, u) AS rk,
                   n FROM r0
        ) WHERE rk <= (n + 1) // 2
    ),
    r1 AS (
        SELECT u, cum + {rw(1)} AS cum,
               count(*) OVER () AS n
        FROM k0
    ),
    k1 AS (
        SELECT u, cum FROM (
            SELECT u, cum,
                   row_number() OVER (
                       ORDER BY cum DESC, u) AS rk,
                   n FROM r1
        ) WHERE rk <= (n + 1) // 2
    ),
    r2 AS (
        SELECT u, cum + {rw(2)} AS cum,
               count(*) OVER () AS n
        FROM k1
    ),
    k2 AS (
        SELECT u, cum FROM (
            SELECT u, cum,
                   row_number() OVER (
                       ORDER BY cum DESC, u) AS rk,
                   n FROM r2
        ) WHERE rk <= (n + 1) // 2
    )
    SELECT * FROM (
        SELECT 0 AS rung,
               CAST((SELECT count(*) FROM r0) AS BIGINT) AS n_arms,
               CAST(1 AS BIGINT) AS budget_per_arm,
               CAST((SELECT count(*) FROM r0) AS BIGINT)
                   AS rung_spend,
               CAST((SELECT min(cum) FROM k0) AS BIGINT)
                   AS keep_cutoff_cum,
               CAST((SELECT count(*) FROM k0) AS BIGINT) AS n_kept
        UNION ALL
        SELECT 1,
               CAST((SELECT count(*) FROM r1) AS BIGINT),
               CAST(2 AS BIGINT),
               CAST(2 * (SELECT count(*) FROM r1) AS BIGINT),
               CAST((SELECT min(cum) FROM k1) AS BIGINT),
               CAST((SELECT count(*) FROM k1) AS BIGINT)
        UNION ALL
        SELECT 2,
               CAST((SELECT count(*) FROM r2) AS BIGINT),
               CAST(4 AS BIGINT),
               CAST(4 * (SELECT count(*) FROM r2) AS BIGINT),
               CAST((SELECT min(cum) FROM k2) AS BIGINT),
               CAST((SELECT count(*) FROM k2) AS BIGINT)
    ) ORDER BY rung
    """


@query("successive_halving_plan", oracle=_sh_oracle())
def successive_halving_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SUCCESSIVE HALVING — the Hyperband rung schedule (Jamieson &
    Talwalkar 2016; Li et al. 2018) executed as relational rounds:
    every distinct user plays a hyperparameter arm, each rung doubles
    the per-arm budget (1, 2, 4) and keeps the top HALF by cumulative
    md5-deterministic reward (ties to the smaller arm id), and the
    row grades the full elimination audit per rung — arms entering,
    budget, rung spend, the keep-cutoff cumulative reward, and the
    kept count. The exponentially-weighted exploration/exploitation
    budget law (most spend on few survivors) is what training-job
    schedulers implement; here its exact trace is cross-engine
    reproducible.

    Scale shape (the round-15 re-plan — VERDICT r15 "what's wrong"
    #1): one LAZY DataFrame, three unrolled rung stages, NO driver
    loop — the real exchanges are visible to the explain/shuffle
    audits. The global rank per rung is two-level: rewards live in a
    BOUNDED integer domain (cum <= 1000*(rung+1) by construction), so
    the frame groups by cum into a domain-bounded histogram, the
    strictly-greater prefix count runs as a window over that <=3000-
    row histogram (the skyline_pareto_frontier device), and ties
    break per-cum in a cum-PARTITIONED row_number over u — fully
    parallel at millions of arms, never a single-reducer sort over
    the arm frame. The rung population n joins in as a broadcast
    1-row scalar (bounded BNL). Each rung halves the frame, so total
    work is a geometric series bounded by 2x rung 0.

    Reference basis: selection/sampling family (token_budget_selection
    r4 flagship, weighted_bottomk_priority_sample r14,
    rolling_origin_backtest_folds staged — the hyperparameter-search
    member of the budget-planning family)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    def rw(r):
        arg = "concat(cast(u as string), '#" + str(r) + "')"
        return F.expr(f"({spark_md5_int(arg)}) % 1000")

    def rung_stage(cur: DataFrame, rung: int, budget: int):
        """One lazy rung: (1-row summary frame, kept-arms frame)."""
        tot = cur.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
        hist = cur.groupBy("cum").agg(F.count(F.lit(1)).alias("c"))
        # strictly-greater prefix over the bounded reward histogram
        w_above = Window.orderBy(F.col("cum").desc()).rowsBetween(
            Window.unboundedPreceding, -1
        )
        above = hist.select(
            "cum",
            F.coalesce(F.sum("c").over(w_above), F.lit(0)).alias(
                "n_above"
            ),
        )
        w_tie = Window.partitionBy("cum").orderBy("u")
        ranked = (
            cur.join(above, "cum")
            .withColumn(
                "rk", F.col("n_above") + F.row_number().over(w_tie)
            )
            .crossJoin(F.broadcast(tot))
            .withColumn(
                "kept",
                F.col("rk")
                <= F.floor((F.col("n_all") + F.lit(1)) / F.lit(2)),
            )
        )
        summary = ranked.agg(
            F.max("n_all").alias("n_arms"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.min(F.when(F.col("kept"), F.col("cum")))
            .cast("long")
            .alias("keep_cutoff_cum"),
        ).select(
            F.lit(rung).cast("long").alias("rung"),
            F.col("n_arms").cast("long").alias("n_arms"),
            F.lit(budget).cast("long").alias("budget_per_arm"),
            (F.lit(budget) * F.col("n_arms"))
            .cast("long")
            .alias("rung_spend"),
            "keep_cutoff_cum",
            "n_kept",
        )
        kept = ranked.where("kept").select("u", "cum")
        return summary, kept

    arms = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("u"))
        .distinct()
    )
    cur0 = arms.select("u", rw(0).alias("cum"))
    s0, k0 = rung_stage(cur0, 0, 1)
    cur1 = k0.select("u", (F.col("cum") + rw(1)).alias("cum"))
    s1, k1 = rung_stage(cur1, 1, 2)
    cur2 = k1.select("u", (F.col("cum") + rw(2)).alias("cum"))
    s2, _ = rung_stage(cur2, 2, 4)
    return s0.unionByName(s1).unionByName(s2).orderBy("rung")


# ==================================================================
# Round-16 slot-fillers: rows landed DURING round 16 to fill the
# grading window to exactly 50 (VERDICT r15 ask #3), each with a
# second witness in tests/test_round16_head.py.
# ==================================================================


# ------------------------- l-diversity risk audit --

_LDIV_L = (2, 3)


def _ldiv_oracle() -> str:
    return """
    WITH qi AS (
        SELECT (CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS dow,
               hour(ts) AS hr,
               least(9, greatest(0,
                   CAST(floor(value / 10.0) AS BIGINT))) AS vb,
               event_type
        FROM events
    ),
    cells AS (
        SELECT dow, hr, vb,
               count(*) AS n_rows,
               count(DISTINCT event_type) AS n_sensitive
        FROM qi GROUP BY dow, hr, vb
    )
    SELECT CAST(dow AS BIGINT) AS dow,
           CAST(count(*) AS BIGINT) AS n_qi_cells,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN n_sensitive < 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS l2_violating_cells,
           CAST(sum(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS l3_violating_cells,
           CAST(sum(CASE WHEN n_sensitive < 2 THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_at_risk_l2,
           CAST(min(n_sensitive) AS BIGINT) AS min_cell_diversity
    FROM cells GROUP BY dow
    """


@query("l_diversity_risk_audit", oracle=_ldiv_oracle())
def l_diversity_risk_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """L-DIVERSITY RISK AUDIT — the disclosure check k-anonymity
    misses (Machanavajjhala et al. 2007): a QI cell can hold many
    users yet only ONE sensitive value, so membership alone reveals
    the attribute (the homogeneity attack). QI cells are (day-of-
    week x hour x value-decile); the sensitive attribute is
    event_type; a cell with fewer than l DISTINCT sensitive values
    violates l-diversity. Per day-of-week the audit grades cell
    counts, l=2 and l=3 violating cells, the rows exposed at l=2,
    and the worst cell's diversity. Day-of-week is epoch-day mod 7 —
    the one weekday formula both engines compute identically.

    Scale shape: one partial+final aggregate to the bounded QI grain
    (7 x 24 x 10 cells) with a distinct-count inside, one bounded
    rollup to 7 rows. Nothing scales past the first aggregate —
    identical to the graduated k-anonymity row it extends.

    Reference basis: governance family (k_anonymity_risk_audit r15
    staged — this adds the attribute-disclosure axis the k-check
    cannot see)."""
    ev = load_table(spark, sf_dir, "events")
    qi = ev.select(
        (
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")) % 7
        ).alias("dow"),
        F.hour("ts").alias("hr"),
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0), F.floor(F.col("value") / 10.0).cast("long")
            ),
        ).alias("vb"),
        "event_type",
    )
    cells = qi.groupBy("dow", "hr", "vb").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_type").alias("n_sensitive"),
    )
    return cells.groupBy(F.col("dow").cast("long").alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n_qi_cells"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("n_sensitive") < 2, 1).otherwise(0))
        .cast("long")
        .alias("l2_violating_cells"),
        F.sum(F.when(F.col("n_sensitive") < 3, 1).otherwise(0))
        .cast("long")
        .alias("l3_violating_cells"),
        F.sum(
            F.when(F.col("n_sensitive") < 2, F.col("n_rows")).otherwise(0)
        )
        .cast("long")
        .alias("rows_at_risk_l2"),
        F.min("n_sensitive").cast("long").alias("min_cell_diversity"),
    )


# --------------- heavy-hitter sidecar cardinality estimate --

_MG_H = 64  # sidecar capacity: keys with freq > N/H are guaranteed in


def _mg_sidecar_oracle(h: int = _MG_H, buckets: int = 16) -> str:
    return f"""
    WITH ok AS (
        SELECT CASE WHEN o_custkey % 97 < 30 THEN 0
                    ELSE o_custkey END AS k
        FROM orders
    ),
    ck AS (
        SELECT CASE WHEN c_custkey % 97 < 30 THEN 0
                    ELSE c_custkey END AS k
        FROM customer
    ),
    co AS (SELECT k, count(*) AS n_o FROM ok GROUP BY k),
    cc AS (SELECT k, count(*) AS n_c FROM ck GROUP BY k),
    tot AS (
        SELECT (SELECT count(*) FROM ok) AS t_o,
               (SELECT count(*) FROM ck) AS t_c
    ),
    hot AS (
        SELECT k FROM co, tot WHERE n_o * {h} >= t_o
        UNION
        SELECT k FROM cc, tot WHERE n_c * {h} >= t_c
    ),
    hot_mass AS (
        SELECT CAST(count(*) AS BIGINT) AS n_hot_keys,
               CAST(coalesce(sum(
                   coalesce(co.n_o, 0) * coalesce(cc.n_c, 0)), 0)
                   AS BIGINT) AS hot_exact
        FROM hot LEFT JOIN co USING (k) LEFT JOIN cc USING (k)
    ),
    rest_o AS (
        SELECT k % {buckets} AS bkt, sum(n_o) AS n_o,
               count(*) AS d_o
        FROM co WHERE k NOT IN (SELECT k FROM hot) GROUP BY 1
    ),
    rest_c AS (
        SELECT k % {buckets} AS bkt, sum(n_c) AS n_c,
               count(*) AS d_c
        FROM cc WHERE k NOT IN (SELECT k FROM hot) GROUP BY 1
    ),
    rest AS (
        SELECT CAST(coalesce(sum(
                   n_o * n_c // greatest(d_c, 1)), 0) AS BIGINT)
                   AS rest_predicted
        FROM rest_o JOIN rest_c USING (bkt)
    ),
    act AS (
        SELECT CAST(count(*) AS BIGINT) AS actual
        FROM ok JOIN ck ON ok.k = ck.k
    )
    SELECT h.n_hot_keys,
           h.hot_exact AS hot_mass_exact,
           r.rest_predicted,
           h.hot_exact + r.rest_predicted AS predicted,
           a.actual,
           (h.hot_exact + r.rest_predicted) * 1000000 // a.actual
               AS ratio_micros,
           ((h.hot_exact + r.rest_predicted) * 10 >= a.actual
            AND h.hot_exact + r.rest_predicted <= a.actual * 10)
               AS within_10x
    FROM hot_mass h, rest r, act a
    """


@query(
    "join_cardinality_mg_sidecar_estimate",
    oracle=_mg_sidecar_oracle(),
)
def join_cardinality_mg_sidecar_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE FIX for the skew twin's measured failure — cardinality
    estimation with a HEAVY-HITTER SIDECAR: the same planted-skew
    join that drove join_cardinality_skew_twin's estimate to 0.7% of
    actual is estimated again, but keys whose frequency exceeds
    N/{_MG_H} on EITHER side (exactly the keys a Misra-Gries summary
    of capacity {_MG_H} is guaranteed to surface) are priced EXACTLY
    (n_a(k) x n_b(k) over the bounded hot set) and only the cold
    remainder goes through the uniformity-within-bucket histogram.
    Grades hot-key count, exact hot mass, cold-histogram estimate,
    and the certificate that flips back to within-10x TRUE at every
    SF — closing the twin's story: detect-then-estimate is the
    production discipline (Spark AQE skew handling does the same).

    Scale shape: per-key counts are one partial+final aggregate per
    side (the grain a real MG sketch maintains in one pass); the hot
    set is pigeonhole-bounded at 2x{_MG_H} keys, broadcast into the
    anti-join and the exact pricing; the cold histogram is bounded
    at 16 buckets. The exact join exists only to GRADE the estimate.

    Reference basis: scale-pattern family (join_cardinality_
    histogram_estimate + skew_twin r15 staged measured the failure;
    heavy_hitters_misra_gries_certified r12 TAIL provides the
    detector; this row composes them into the fix)."""
    buckets = 16
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    skew_o = F.when(
        F.col("o_custkey") % 97 < 30, F.lit(0)
    ).otherwise(F.col("o_custkey"))
    skew_c = F.when(
        F.col("c_custkey") % 97 < 30, F.lit(0)
    ).otherwise(F.col("c_custkey"))
    ok = orders.select(skew_o.alias("k"))
    ck = customer.select(skew_c.alias("k"))
    co = ok.groupBy("k").agg(F.count(F.lit(1)).alias("n_o"))
    cc = ck.groupBy("k").agg(F.count(F.lit(1)).alias("n_c"))
    tot = co.agg(F.sum("n_o").alias("t_o")).crossJoin(
        cc.agg(F.sum("n_c").alias("t_c"))
    )
    hot = (
        co.crossJoin(F.broadcast(tot))
        .where(F.col("n_o") * _MG_H >= F.col("t_o"))
        .select("k")
        .unionByName(
            cc.crossJoin(F.broadcast(tot))
            .where(F.col("n_c") * _MG_H >= F.col("t_c"))
            .select("k")
        )
        .distinct()
    )
    hot_mass = (
        hot.join(co, "k", "left")
        .join(cc, "k", "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hot_keys"),
            F.coalesce(
                F.sum(
                    F.coalesce("n_o", F.lit(0))
                    * F.coalesce("n_c", F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("hot_exact"),
        )
    )
    rest_o = (
        co.join(F.broadcast(hot), "k", "left_anti")
        .groupBy((F.col("k") % buckets).alias("bkt"))
        .agg(F.sum("n_o").alias("n_o"), F.count(F.lit(1)).alias("d_o"))
    )
    rest_c = (
        cc.join(F.broadcast(hot), "k", "left_anti")
        .groupBy((F.col("k") % buckets).alias("bkt"))
        .agg(F.sum("n_c").alias("n_c"), F.count(F.lit(1)).alias("d_c"))
    )
    rest = rest_o.join(rest_c, "bkt").agg(
        F.coalesce(
            F.sum(
                F.expr("n_o * n_c div greatest(d_c, 1)")
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("rest_predicted")
    )
    # actual = Σ_k n_o(k)·n_c(k) at KEY grain from the per-key counts
    # already aggregated above — identical integer, no hot-key row
    # blow-up (guide §3.4; same device as the skew twin)
    act = co.join(cc, "k").agg(
        F.coalesce(F.sum(F.col("n_o") * F.col("n_c")), F.lit(0))
        .cast("long")
        .alias("actual")
    )
    return (
        hot_mass.crossJoin(F.broadcast(rest))
        .crossJoin(F.broadcast(act))
        .select(
            "n_hot_keys",
            F.col("hot_exact").alias("hot_mass_exact"),
            "rest_predicted",
            (F.col("hot_exact") + F.col("rest_predicted"))
            .cast("long")
            .alias("predicted"),
            "actual",
            F.expr(
                "(hot_exact + rest_predicted) * 1000000 div actual"
            )
            .cast("long")
            .alias("ratio_micros"),
            (
                (
                    (F.col("hot_exact") + F.col("rest_predicted")) * 10
                    >= F.col("actual")
                )
                & (
                    F.col("hot_exact") + F.col("rest_predicted")
                    <= F.col("actual") * 10
                )
            ).alias("within_10x"),
        )
    )


# --------------------- early-stopping patience plan --

_ES_RUNS = 32
_ES_PATIENCE = 3


def _early_stop_oracle(
    runs: int = _ES_RUNS, patience: int = _ES_PATIENCE
) -> str:
    return f"""
    WITH daily AS (
        SELECT user_id % {runs} AS run,
               CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(sum(CAST(floor(value * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ),
    seq AS (
        SELECT run, d, cents,
               row_number() OVER (
                   PARTITION BY run ORDER BY d) AS idx,
               CASE WHEN cents < min(cents) OVER (
                        PARTITION BY run ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING)
                    OR min(cents) OVER (
                        PARTITION BY run ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) IS NULL
                    THEN 1 ELSE 0 END AS improve
        FROM daily
    ),
    stalled AS (
        SELECT run, idx, cents,
               idx - max(CASE WHEN improve = 1 THEN idx END) OVER (
                   PARTITION BY run ORDER BY idx
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS stall
        FROM seq
    ),
    stops AS (
        SELECT run,
               count(*) AS n_days,
               min(CASE WHEN stall >= {patience} THEN idx END)
                   AS stop_raw
        FROM stalled GROUP BY run
    ),
    cut AS (
        SELECT run, n_days,
               coalesce(stop_raw, n_days) AS stop_idx,
               stop_raw IS NOT NULL AS stopped
        FROM stops
    )
    SELECT c.run,
           CAST(c.n_days AS BIGINT) AS n_days,
           CAST(c.stop_idx AS BIGINT) AS stop_idx,
           c.stopped,
           CAST(min(CASE WHEN s.idx <= c.stop_idx
                         THEN s.cents END) AS BIGINT)
               AS best_at_stop_cents,
           CAST(min(s.cents) AS BIGINT) AS best_overall_cents,
           CAST(min(CASE WHEN s.idx <= c.stop_idx
                         THEN s.cents END) - min(s.cents)
                AS BIGINT) AS regret_cents,
           CAST(c.n_days - c.stop_idx AS BIGINT) AS saved_days
    FROM cut c JOIN stalled s USING (run)
    GROUP BY c.run, c.n_days, c.stop_idx, c.stopped
    """


@query(
    "early_stopping_patience_plan", oracle=_early_stop_oracle()
)
def early_stopping_patience_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EARLY-STOPPING PATIENCE AUDIT — the training-ops twin of the
    successive-halving row: {_ES_RUNS} runs (user_id mod {_ES_RUNS})
    each emit a daily validation metric (exact integer day-sum
    cents, lower is better); a run STOPS at the first day where
    {_ES_PATIENCE} consecutive days brought no new running best
    (strict improvement). Grades per run: days observed, the stop
    index, whether patience fired, the best metric at the stop vs
    the best the full series ever reached (the REGRET the policy
    paid), and the days saved. The regret/saved-days trade is the
    number a scheduler tunes patience with.

    Scale shape: one partial+final aggregate to the bounded
    (run x day) grain, then run-partitioned windows over day series
    (parallel across runs, each series |days| long), one bounded
    rollup. The stop rule composes running-min + running-max
    windows — no self-join, no driver loop.

    Reference basis: training-schedule family
    (successive_halving_plan staged r15, rolling_origin_backtest_
    folds staged r15 — the third member: WHEN to stop spending)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        (F.col("user_id") % _ES_RUNS).alias("run"),
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w_ord = Window.partitionBy("run").orderBy("d")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    seq = daily.select(
        "run",
        "d",
        "cents",
        F.row_number().over(w_ord).alias("idx"),
        F.when(
            F.min("cents").over(w_prev).isNull()
            | (F.col("cents") < F.min("cents").over(w_prev)),
            1,
        )
        .otherwise(0)
        .alias("improve"),
    )
    w_run = Window.partitionBy("run").orderBy("idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    stalled = seq.select(
        "run",
        "idx",
        "cents",
        (
            F.col("idx")
            - F.max(
                F.when(F.col("improve") == 1, F.col("idx"))
            ).over(w_run)
        ).alias("stall"),
    )
    stops = stalled.groupBy("run").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.min(
            F.when(
                F.col("stall") >= _ES_PATIENCE, F.col("idx")
            )
        ).alias("stop_raw"),
    )
    cut = stops.select(
        "run",
        "n_days",
        F.coalesce("stop_raw", "n_days").alias("stop_idx"),
        F.col("stop_raw").isNotNull().alias("stopped"),
    )
    return (
        cut.join(stalled, "run")
        .groupBy("run", "n_days", "stop_idx", "stopped")
        .agg(
            F.min(
                F.when(
                    F.col("idx") <= F.col("stop_idx"), F.col("cents")
                )
            )
            .cast("long")
            .alias("best_at_stop_cents"),
            F.min("cents").cast("long").alias("best_overall_cents"),
        )
        .select(
            "run",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("stop_idx").cast("long").alias("stop_idx"),
            "stopped",
            "best_at_stop_cents",
            "best_overall_cents",
            (F.col("best_at_stop_cents") - F.col("best_overall_cents"))
            .cast("long")
            .alias("regret_cents"),
            (F.col("n_days") - F.col("stop_idx"))
            .cast("long")
            .alias("saved_days"),
        )
    )


# --------------- day-of-week seasonal median + residuals --


def _dow_median_oracle() -> str:
    return """
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(sum(CAST(floor(value * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ),
    keyed AS (
        SELECT event_type,
               (d - DATE '1970-01-01') % 7 AS dow,
               cents
        FROM daily
    ),
    med AS (
        SELECT event_type, dow,
               count(*) AS n_days,
               CAST(quantile_disc(cents, 0.5) AS BIGINT) AS med
        FROM keyed GROUP BY event_type, dow
    )
    SELECT k.event_type,
           CAST(k.dow AS BIGINT) AS dow,
           CAST(m.n_days AS BIGINT) AS n_days,
           m.med AS median_cents,
           CAST(sum(abs(k.cents - m.med)) AS BIGINT)
               AS abs_resid_sum_cents,
           CAST(max(abs(k.cents - m.med)) AS BIGINT)
               AS abs_resid_max_cents
    FROM keyed k JOIN med m USING (event_type, dow)
    GROUP BY k.event_type, k.dow, m.n_days, m.med
    """


@query(
    "dow_seasonal_median_residuals", oracle=_dow_median_oracle()
)
def dow_seasonal_median_residuals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DAY-OF-WEEK SEASONAL PROFILE by robust median — the seasonal
    component of an STL-style decomposition computed exactly: the
    per-type daily totals (integer cents) group by epoch-day mod 7,
    the per-(type, weekday) DISCRETE median plays the seasonal
    level (robust to the outlier days a mean profile would absorb),
    and the residual readout (sum and max of |day - median|) is the
    de-seasonalized magnitude an anomaly monitor thresholds. All
    exact integers: discrete medians are order statistics, residuals
    are integer differences.

    Scale shape: one partial+final aggregate to the bounded
    (type x day) grain, a second to the (type x 7) grain computing
    the in-group order statistic, then a broadcast-sized join back
    to the day frame for residuals. Nothing after the first
    aggregate scales with the input.

    Reference basis: time-series family (time_rollup_hierarchy r3,
    rolling_median_smooth r12 TAIL, cusum_drift_flags r14 — this
    adds the SEASONAL axis those rows de-trend against)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    keyed = daily.select(
        "event_type",
        (
            F.datediff(F.col("d"), F.lit("1970-01-01")) % 7
        ).alias("dow"),
        "cents",
    )
    med = keyed.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)"
        )
        .cast("long")
        .alias("med"),
    )
    return (
        keyed.join(F.broadcast(med), ["event_type", "dow"])
        .groupBy(
            "event_type",
            F.col("dow").cast("long").alias("dow"),
            F.col("n_days").cast("long").alias("n_days"),
            F.col("med").alias("median_cents"),
        )
        .agg(
            F.sum(F.abs(F.col("cents") - F.col("med")))
            .cast("long")
            .alias("abs_resid_sum_cents"),
            F.max(F.abs(F.col("cents") - F.col("med")))
            .cast("long")
            .alias("abs_resid_max_cents"),
        )
    )


# --------------- Brier reliability bins (Murphy decomposition) --

_BRIER_BINS = 10


def _brier_oracle(nb: int = _BRIER_BINS) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    p = f"({sql_md5_int('cast(event_id as string)')} % 101)"
    return f"""
    WITH scored AS (
        SELECT least({nb - 1}, {p} // {101 // nb + 1} ) AS bin,
               {p} AS pct,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS y
        FROM events
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_all,
               CAST(sum(y) AS BIGINT) AS s_all
        FROM scored
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST(sum(pct) AS BIGINT) AS sum_pred_pct,
           CAST(sum(pct) - 100 * sum(y) AS BIGINT)
               AS reliability_diff_x100,
           CAST(sum(y) * t.n_all - t.s_all * count(*) AS BIGINT)
               AS resolution_diff_xn,
           t.n_all, t.s_all
    FROM scored, tot t
    GROUP BY bin, t.n_all, t.s_all
    """


@query(
    "brier_reliability_bins_exact", oracle=_brier_oracle()
)
def brier_reliability_bins_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BRIER-SCORE RELIABILITY BINS — the Murphy decomposition's
    per-bin sufficient statistics, exact: a deterministic md5
    forecast (0..100 percent) is binned into {_BRIER_BINS} reliability
    buckets against the binary purchase outcome, and each bin grades
    the EXACT integer deviations the decomposition squares:
    reliability_diff_x100 = sum(pred_pct) - 100*sum(y) (zero iff the
    bin is perfectly calibrated) and resolution_diff_xn =
    n_pos*N - S*n (zero iff the bin is uninformative vs the base
    rate). Emitting the signed pre-squared integers keeps both
    engines in BIGINT — the squared/normalized terms follow by
    exact arithmetic from the graded columns. Complements PAV (the
    calibration FIT) and conformal (the coverage GUARANTEE) with the
    calibration MEASUREMENT.

    Scale shape: one scan-side md5 forecast + one partial+final
    aggregate to the {_BRIER_BINS}-bin grain, plus a 1-row base-rate
    scalar broadcast. Nothing scales past the scan.

    Reference basis: evaluation family (pav_isotonic r15 staged,
    conformal_interval_coverage r15 staged, cohens_kappa/macro_f1
    r15 — the forecast-quality member)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    nb = _BRIER_BINS
    step = 101 // nb + 1
    ev = load_table(spark, sf_dir, "events")
    p = f"({spark_md5_int('cast(event_id as string)')}) % 101"
    scored = ev.select(
        F.least(F.lit(nb - 1), F.expr(f"({p}) div {step}")).alias(
            "bin"
        ),
        F.expr(p).alias("pct"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    tot = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("y").cast("long").alias("s_all"),
    )
    return (
        scored.crossJoin(F.broadcast(tot))
        .groupBy(
            F.col("bin").cast("long").alias("bin"),
            "n_all",
            "s_all",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum("pct").cast("long").alias("sum_pred_pct"),
            (F.sum("pct") - 100 * F.sum("y"))
            .cast("long")
            .alias("reliability_diff_x100"),
            (
                F.sum("y") * F.first("n_all")
                - F.first("s_all") * F.count(F.lit(1))
            )
            .cast("long")
            .alias("resolution_diff_xn"),
        )
        .select(
            "bin",
            "n",
            "n_pos",
            "sum_pred_pct",
            "reliability_diff_x100",
            "resolution_diff_xn",
            "n_all",
            "s_all",
        )
    )


# ------- weighted MMR top-k (lambda = 1/4, k = 4, generated rounds) --

_WMMR_CANDS = 8
_WMMR_K = 4
# lambda = 1/4: 4*MMR(d) = rel - 3*max_sim, kept integer by scaling
_WMMR_SIM_W = 3


def _wmmr_oracle(
    nc: int = _WMMR_CANDS, k: int = _WMMR_K, w: int = _WMMR_SIM_W
) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import (
        sql_md5_int,
        sql_word_shingles,
    )

    q = f"({sql_md5_int('text')} % 1000)"
    sh = sql_word_shingles("text", 3)
    key = "(-(SCORE)) * 8589934592 + doc_id"

    ctes = [
        f"""cand AS (
        SELECT source, doc_id, rel, shingles FROM (
            SELECT source, doc_id,
                   CAST({q} * 1000 AS BIGINT) AS rel,
                   {sh} AS shingles,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY {q} DESC, doc_id
                   ) AS rk
            FROM documents
        ) WHERE rk <= {nc}
    )""",
        """sim AS (
        SELECT a.source, a.doc_id AS da, b.doc_id AS db,
               CAST(len(list_intersect(a.shingles, b.shingles))
                    * 1000000
                    // greatest(len(list_distinct(
                           list_concat(a.shingles, b.shingles))), 1)
                    AS BIGINT) AS s
        FROM cand a JOIN cand b
          ON b.source = a.source AND b.doc_id != a.doc_id
    )""",
        f"""s1 AS (
        SELECT source,
               min_by(doc_id, {key.replace('SCORE', 'rel')}) AS d1
        FROM cand GROUP BY source
    )""",
    ]
    picks = [
        """SELECT s1.source, 1 AS select_rank, s1.d1 AS doc_id,
               CAST(0 AS BIGINT) AS max_sim_to_prior
        FROM s1"""
    ]
    for i in range(2, k + 1):
        prior_joins = "\n        ".join(
            f"JOIN s{j} ON s{j}.source = c.source "
            f"AND c.doc_id != s{j}.d{j}"
            for j in range(1, i)
        )
        sim_joins = "\n        ".join(
            f"LEFT JOIN sim x{j} ON x{j}.source = c.source "
            f"AND x{j}.da = c.doc_id AND x{j}.db = s{j}.d{j}"
            for j in range(1, i)
        )
        msim = "greatest(" + ", ".join(
            f"coalesce(x{j}.s, 0)" for j in range(1, i)
        ) + ")" if i > 2 else "coalesce(x1.s, 0)"
        ctes.append(
            f"""sc{i} AS (
        SELECT c.source, c.doc_id, c.rel, {msim} AS msim
        FROM cand c
        {prior_joins}
        {sim_joins}
    )"""
        )
        score = f"(rel - {w} * msim)"
        ctes.append(
            f"""s{i} AS (
        SELECT source,
               min_by(doc_id, {key.replace('SCORE', score)}) AS d{i}
        FROM sc{i} GROUP BY source
    )"""
        )
        picks.append(
            f"""SELECT c.source, {i}, c.doc_id, c.msim
        FROM sc{i} c JOIN s{i} ON s{i}.source = c.source
                         AND s{i}.d{i} = c.doc_id"""
        )
    all_ctes = ",\n    ".join(ctes)
    all_picks = "\n        UNION ALL\n        ".join(picks)
    return f"""
    WITH {all_ctes},
    picks AS (
        {all_picks}
    )
    SELECT p.source, CAST(p.select_rank AS BIGINT) AS select_rank,
           p.doc_id, c.rel AS rel_micros,
           p.max_sim_to_prior AS max_sim_to_prior_micros
    FROM picks p JOIN cand c
      ON c.source = p.source AND c.doc_id = p.doc_id
    """


@query(
    "mmr_diversified_topk_weighted", oracle=_wmmr_oracle()
)
def mmr_diversified_topk_weighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHTED MMR top-{_WMMR_K} at lambda = 1/4 — the ROTATION_R15
    seed generalizing the graduated lambda = 1/2 top-3 row on BOTH
    axes: the greedy objective becomes 4*MMR = rel - {_WMMR_SIM_W} *
    max_sim (diversity-heavy: one unit of similarity costs three of
    relevance, all integer micros), and the selection runs
    {_WMMR_K} rounds GENERATED by a loop that only BUILDS the lazy
    plan — round i joins the candidate slice against the i-1 prior
    picks and the bounded pairwise-similarity frame, takes the
    composite-BIGINT min_by argmax, and the identical generated SQL
    drives DuckDB. Proves the unrolled-greedy device scales in k
    without hand-written rounds.

    Scale shape: identical to the top-3 row — candidates are a
    bounded top-{_WMMR_CANDS} slice per source BEFORE anything
    pairwise, the sim frame is <= {_WMMR_CANDS}^2 rows per source,
    and each generated round is a bounded join + one aggregate.
    Corpus size touches only the initial ranking window.

    Reference basis: retrieval family (mmr_diversified_top3_exact
    r15 staged — this grades the lambda != 1/2 weighted-composite
    argmax keys and k > 3 loop-generated rounds the seed called
    for)."""
    from sparkksqldbbenchmark_spark.llm.hashing import (
        spark_md5_int,
        spark_word_shingles,
    )

    nc, k, w = _WMMR_CANDS, _WMMR_K, _WMMR_SIM_W
    docs = load_table(spark, sf_dir, "documents")
    q = f"({spark_md5_int('text')}) % 1000"
    # rank on a NARROW projection (guide §2.3 project early): the old
    # form computed the shingle arrays for EVERY corpus doc and pushed
    # them through the ranking window's sort exchange; now the window
    # shuffles (source, doc_id, qv) only, and shingles are computed
    # for the <= nc-per-source survivors after a broadcast join-back.
    ranked = (
        docs.select(
            "source",
            "doc_id",
            F.expr(q).alias("qv"),
            F.row_number()
            .over(
                Window.partitionBy("source").orderBy(
                    F.expr(q).desc(), "doc_id"
                )
            )
            .alias("rk"),
        )
        .where(F.col("rk") <= nc)
        .select("source", "doc_id", "qv")
    )
    # consumed by every generated round: checkpoint so the ranking
    # runs once, partitioned by source so each round's argmax is
    # exchange-free (guide §2.4, §5)
    cand = (
        docs.select("source", "doc_id", "text")
        .join(F.broadcast(ranked), ["source", "doc_id"])
        .select(
            "source",
            "doc_id",
            (F.col("qv") * 1000).cast("long").alias("rel"),
            F.expr(spark_word_shingles("text", 3)).alias("shingles"),
        )
        .repartition(F.col("source"))
        .localCheckpoint(eager=True)
    )
    a = cand.select(
        "source",
        F.col("doc_id").alias("da"),
        F.col("shingles").alias("sha"),
    )
    b = cand.select(
        "source",
        F.col("doc_id").alias("db"),
        F.col("shingles").alias("shb"),
    )
    sim = (
        # bounded nc-per-source self-join: shuffled-hash (sort-free;
        # both sides already co-partitioned by the checkpoint)
        a.join(b.hint("shuffle_hash"), "source")
        .where(F.col("da") != F.col("db"))
        .select(
            "source",
            "da",
            "db",
            F.expr(
                "cast(size(array_intersect(sha, shb)) * 1000000"
                " div greatest(size(array_union(sha, shb)), 1)"
                " as bigint)"
            ).alias("s"),
        )
    )
    # r18 (guide §2.4/§4.2): the whole k-round generated greedy
    # collapses into ONE cogrouped Arrow pass per source over the
    # checkpoint-aligned candidate and pair-sim frames — identical
    # integer arithmetic (score = rel − w·msim, argmax key =
    # (−score)·2³³ + doc_id picked by min), no per-round
    # argmax/exclusion stages (llm/mmr.py).
    from sparkksqldbbenchmark_spark.llm.mmr import mmr_greedy_picks

    return mmr_greedy_picks(cand, sim, k=k, w=w)


# ------- composed curation pipeline v4 (PAV-calibrated keep) --

_V4_BINS = 20


def _curation_v4_oracle(nb: int = _V4_BINS) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import (
        sql_md5_int,
        sql_word_shingles,
    )

    h = sql_md5_int("w.w")
    evalsplit = f"({sql_md5_int('CAST(doc_id AS VARCHAR)')} % 10)"
    sh = sql_word_shingles("text", 5)
    return f"""
    WITH pool AS (
        SELECT * FROM documents WHERE {evalsplit} != 0
    ),
    eval_sh AS (
        SELECT DISTINCT unnest({sh}) AS esh
        FROM documents WHERE {evalsplit} = 0
    ),
    words AS (
        SELECT d.doc_id, d.source, d.lang,
               unnest(regexp_extract_all(d.text, '\\S+')) AS w,
               generate_subscripts(
                   regexp_extract_all(d.text, '\\S+'), 1) AS i
        FROM pool d
    ),
    flagged AS (
        SELECT doc_id, source, lang, i, w,
               CASE WHEN ({h} & 3) = 0 THEN 1 ELSE 0 END AS f
        FROM words w
    ),
    sids AS (
        SELECT doc_id, source, lang, i, w,
               coalesce(sum(f) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS sid
        FROM flagged
    ),
    sents AS (
        SELECT doc_id, source, lang, sid,
               string_agg(w, ' ' ORDER BY i) AS s
        FROM sids GROUP BY doc_id, source, lang, sid
    ),
    quality AS (
        SELECT s.doc_id, s.source, s.lang,
               count(*) AS n_sents,
               count(DISTINCT s.s) AS n_distinct,
               t.n_words
        FROM sents s
        JOIN (SELECT doc_id, count(*) AS n_words FROM words
              GROUP BY doc_id) t ON t.doc_id = s.doc_id
        GROUP BY s.doc_id, s.source, s.lang, t.n_words
    ),
    docbins AS (
        SELECT doc_id, source, n_words,
               {nb - 1} - least({nb - 1},
                   (n_sents - n_distinct) * 1000000
                       // n_sents // 50000) AS rb,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM quality
    ),
    grid AS (SELECT unnest(range({nb})) AS rb),
    aggb AS (
        SELECT g.rb,
               CAST(count(d.rb) AS BIGINT) AS n,
               CAST(coalesce(sum(d.y), 0) AS BIGINT) AS k
        FROM grid g LEFT JOIN docbins d ON d.rb = g.rb
        GROUP BY g.rb
    ),
    cum AS (
        SELECT rb, n, k,
               sum(n) OVER (ORDER BY rb) AS cn,
               sum(k) OVER (ORDER BY rb) AS ck
        FROM aggb
    ),
    pairs AS (
        SELECT lo.rb AS j, hi.rb AS kk,
               hi.ck - lo.ck + lo.k AS num,
               hi.cn - lo.cn + lo.n AS den
        FROM cum lo JOIN cum hi ON lo.rb <= hi.rb
        WHERE hi.cn - lo.cn + lo.n > 0
    ),
    inner_min AS (
        SELECT i.rb AS i, p.j,
               min_by([p.num, p.den],
                      p.num * 1099511627776 // p.den) AS frac
        FROM (SELECT rb FROM aggb) i
        JOIN pairs p ON p.j <= i.rb AND p.kk >= i.rb
        GROUP BY i.rb, p.j
    ),
    fitted AS (
        SELECT i AS rb,
               max_by(frac,
                      frac[1] * 1099511627776 // frac[2]) AS best
        FROM inner_min GROUP BY i
    ),
    base AS (
        SELECT CAST(sum(y) AS BIGINT) AS s_all,
               CAST(count(*) AS BIGINT) AS n_all
        FROM docbins
    ),
    keepbins AS (
        -- keep bins whose PAV-calibrated quality >= the corpus base
        -- rate, compared as exact cross-multiplied integers
        SELECT f.rb FROM fitted f, base b
        WHERE f.best[1] * b.n_all >= b.s_all * f.best[2]
    ),
    keepers AS (
        SELECT d.doc_id, d.source, d.n_words
        FROM docbins d JOIN keepbins kb ON kb.rb = d.rb
    ),
    canon AS (
        SELECT k.doc_id, k.source, k.n_words,
               min(k.doc_id) OVER (PARTITION BY d.md5t)
                   AS canonical_id
        FROM keepers k
        JOIN (SELECT doc_id, md5(text) AS md5t FROM pool) d
          ON d.doc_id = k.doc_id
    ),
    deduped AS (
        SELECT doc_id, source, n_words FROM canon
        WHERE doc_id = canonical_id
    ),
    contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM (SELECT p.doc_id, unnest({sh}) AS sh
              FROM pool p
              JOIN deduped dd ON dd.doc_id = p.doc_id) t
        JOIN eval_sh e ON e.esh = t.sh
    ),
    clean AS (
        SELECT d.* FROM deduped d
        LEFT JOIN contaminated c ON c.doc_id = d.doc_id
        WHERE c.doc_id IS NULL
    ),
    survivors AS (
        SELECT source,
               CAST(sum(n_words) AS BIGINT) AS total_tokens,
               count(*) AS docs_kept,
               (SELECT count(*) FROM deduped dd
                JOIN contaminated c ON c.doc_id = dd.doc_id
                WHERE dd.source = s.source) AS docs_decontaminated
        FROM clean s
        GROUP BY source
    ),
    b AS (
        SELECT CAST(sum(total_tokens) // 2 AS BIGINT) AS budget,
               count(*) AS n FROM survivors
    ),
    ranked AS (
        SELECT source, total_tokens, docs_kept, docs_decontaminated,
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
           CAST(r.docs_decontaminated AS BIGINT)
               AS docs_decontaminated,
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
    "curation_pipeline_v4_composed", oracle=_curation_v4_oracle()
)
def curation_pipeline_v4_composed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CURATION PIPELINE v4 — the ROTATION_R15 seed: v3's chain with
    the fixed Gopher keep-threshold replaced by a PAV-CALIBRATED
    keep stage. The dup-sentence ratio bins each doc (20 bins,
    REVERSED so less-repetitive is a higher score), the isotonic
    max-min identity fits the monotone P(quality-label | bin) over
    the bounded bin frame (exact floor-key fractions, the graduated
    PAV device), and a doc is kept iff its bin's CALIBRATED quality
    clears the corpus base rate — an exact cross-multiplied integer
    comparison, so the cut is self-normalizing across corpora
    instead of a hand-tuned constant. Survivors then flow through
    the unchanged canonical-dedup -> Bloom-decontamination ->
    water-fill stages, with the decontamination grain tightened to
    5-WORD shingles (3-shingles mark every PAV-kept doc contaminated
    at sf0.1 — a measured false-contamination wipeout; the longer
    grain is the production choice for exactly that reason). The
    Bloom changes the plan, never the answer: FN = 0. Per source: kept docs, decontaminated drops,
    surviving tokens, water-filled allocation.

    Scale shape: the new stage adds ONE partial+final aggregate to
    the bounded 20-bin frame, the <= 20^2 pair enumeration on that
    frame, and a 20-row broadcast join back to the doc grain —
    constant work regardless of corpus size, on top of v3's
    already-audited stages.

    Reference basis: curation family capstone
    (curation_pipeline_v3_composed r15 staged;
    pav_isotonic_calibration_binned r15 staged — composed as the
    keep policy, the production use the PAV row exists for)."""
    from sparkksqldbbenchmark_spark.llm.hashing import (
        spark_md5_int,
        spark_tokens,
        spark_word_shingles,
    )

    nb = _V4_BINS
    m, kbits = 4096, 3
    docs = load_table(spark, sf_dir, "documents")
    evalsplit = F.expr(
        f"{spark_md5_int('cast(doc_id as string)')} % 10"
    )
    pool = docs.where(evalsplit != 0)
    eval_docs = docs.where(evalsplit == 0)
    shexpr = F.expr(spark_word_shingles("text", 5))
    eval_sh = eval_docs.select(F.explode(shexpr).alias("esh")).distinct()
    # two consumers (Bloom build + exact-verify join) — materialize so
    # the eval-split shingle explode+distinct runs once
    eval_sh = eval_sh.localCheckpoint(eager=True)

    # -- stage 1: dup-sentence quality stats (scan-side, O(n)) --
    # r18 optimization (guide §4.1 prefer cheap native ops): ns/nd come
    # from boundary positions + distinct token SLICES
    # (llm/sentences.py) instead of the O(ns²) accumulate-struct fold —
    # identical integers, linear per-row work.
    from sparkksqldbbenchmark_spark.llm.sentences import (
        with_sentence_counts,
    )

    toks = pool.select(
        "doc_id",
        "source",
        "lang",
        "text",
        F.expr(spark_tokens("text")).alias("toks"),
    ).where(F.size("toks") > 0)
    quality = with_sentence_counts(toks).select(
        "doc_id",
        "source",
        "lang",
        "text",
        F.size("toks").alias("n_words"),
        "ns",
        "nd",
    )

    # -- stage 2: PAV-calibrated keep over the bounded bin frame --
    docbins = quality.select(
        "doc_id",
        "source",
        "text",
        "n_words",
        (
            F.lit(nb - 1)
            - F.least(
                F.lit(nb - 1),
                F.expr("(ns - nd) * 1000000 div ns div 50000"),
            )
        ).alias("rb"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    # materialize the doc grain ONCE (optimization guide §5 caching
    # rule: reused AND expensive to recompute): the sentence fold above
    # is an interpreted higher-order aggregate — the single most
    # expensive per-row expression in the pipeline — and docbins feeds
    # both the bin frame and the keep join; without a barrier every
    # downstream consumer re-ran the fold (measured 17.8 s for the
    # whole row). At cluster scale this is the persist() every staged
    # curation pipeline puts between its stages.
    docbins = docbins.localCheckpoint(eager=True)
    grid = spark.range(nb).select(F.col("id").alias("rb"))
    # the 20-row bin frame feeds five PAV subtrees (cum lo/hi, the
    # i-frame, the base rate) — checkpoint it so the expensive
    # sentence-fold lineage above it computes ONCE, not per subtree
    aggb = (
        grid.join(docbins.select("rb", "y"), "rb", "left")
        .groupBy("rb")
        .agg(
            F.count("y").cast("long").alias("n"),
            F.coalesce(F.sum("y"), F.lit(0)).cast("long").alias("k"),
        )
    ).localCheckpoint(eager=True)
    wcum = Window.orderBy("rb").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = aggb.select(
        "rb",
        "n",
        "k",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("k").over(wcum).alias("ck"),
    )
    lo = cum.select(
        F.col("rb").alias("j"),
        F.col("ck").alias("ck_lo"),
        F.col("cn").alias("cn_lo"),
        F.col("k").alias("k_lo"),
        F.col("n").alias("n_lo"),
    )
    hi = cum.select(
        F.col("rb").alias("kk"),
        F.col("ck").alias("ck_hi"),
        F.col("cn").alias("cn_hi"),
    )
    fpairs = (
        lo.join(hi, F.col("j") <= F.col("kk"))
        .select(
            "j",
            "kk",
            (F.col("ck_hi") - F.col("ck_lo") + F.col("k_lo")).alias(
                "num"
            ),
            (F.col("cn_hi") - F.col("cn_lo") + F.col("n_lo")).alias(
                "den"
            ),
        )
        .where(F.col("den") > 0)
    )
    ikey = F.floor(
        (F.col("num") * F.lit(1099511627776)) / F.col("den")
    ).cast("long")
    i_frame = aggb.select(F.col("rb").alias("i"))
    inner = (
        i_frame.join(
            fpairs,
            (F.col("j") <= F.col("i")) & (F.col("kk") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min_by(F.struct("num", "den"), ikey).alias("frac"))
    )
    fitted = inner.groupBy("i").agg(
        F.max_by(
            F.col("frac"),
            F.floor(
                (F.col("frac.num") * F.lit(1099511627776))
                / F.col("frac.den")
            ).cast("long"),
        ).alias("best")
    ).select(F.col("i").alias("rb"), "best")
    # base rate from the checkpointed bin frame, not the doc grain —
    # identical sums, one less fold recomputation
    base = aggb.agg(
        F.sum("k").cast("long").alias("s_all"),
        F.sum("n").cast("long").alias("n_all"),
    )
    keepbins = (
        fitted.crossJoin(F.broadcast(base))
        .where(
            F.col("best.num") * F.col("n_all")
            >= F.col("s_all") * F.col("best.den")
        )
        .select("rb")
    )
    keepers = docbins.join(F.broadcast(keepbins), "rb").select(
        "doc_id", "source", "text", "n_words"
    )

    # -- stage 3: canonical exact dedup --
    canon = keepers.withColumn(
        "canonical_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))),
    )
    deduped = canon.where(F.col("doc_id") == F.col("canonical_id"))
    # three consumers below (shingle probes, the anti-join, the
    # semi-join) — materialize so the md5 window and the keep join run
    # once, not three times
    deduped = deduped.localCheckpoint(eager=True)

    # -- stage 4: Bloom-prefiltered decontamination --
    j = F.explode(F.sequence(F.lit(0), F.lit(kbits - 1))).alias("j")
    hp = (
        "("
        + spark_md5_int("concat(cast(j as string), '#', sh)")
        + f") % {m}"
    )
    bloom = (
        eval_sh.select(F.col("esh").alias("sh"), j)
        .select(F.expr(hp).alias("p"))
        .groupBy(F.expr("p DIV 32").alias("word"))
        .agg(
            F.expr("bit_or(shiftleft(1L, cast(p % 32 as int)))")
            .cast("long")
            .alias("bits")
        )
    )
    train_sh = deduped.select(
        "doc_id", F.explode(shexpr).alias("sh")
    )
    probes = train_sh.select("doc_id", "sh", j).select(
        "doc_id", "sh", F.expr(hp).alias("p")
    )
    flagged_sh = (
        probes.join(
            F.broadcast(bloom), F.expr("word = p DIV 32"), "left"
        )
        .select(
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
        .groupBy("doc_id", "sh")
        .agg(F.sum("hit").alias("hits"))
        .where(F.col("hits") == kbits)
    )
    contaminated = (
        flagged_sh.join(
            eval_sh.select(F.col("esh").alias("sh")), "sh"
        )
        .select("doc_id")
        .distinct()
    )
    # two consumers (anti + semi) — the contaminated id set is tiny;
    # materialize so the shingle-probe subtree runs once
    contaminated = contaminated.localCheckpoint(eager=True)
    clean = deduped.join(contaminated, "doc_id", "left_anti")
    dropped = (
        deduped.join(contaminated, "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("docs_decont"))
    )

    # -- stage 5: water-filled budget over the survivor frame --
    survivors = (
        clean.groupBy("source")
        .agg(
            F.sum("n_words").cast("long").alias("total_tokens"),
            F.count(F.lit(1)).cast("long").alias("docs_kept"),
        )
        .join(dropped, "source", "left")
        .select(
            "source",
            "docs_kept",
            F.coalesce("docs_decont", F.lit(0))
            .cast("long")
            .alias("docs_decontaminated"),
            "total_tokens",
        )
    )
    w_rank = Window.orderBy("total_tokens", "source")
    ranked = survivors.select(
        "source",
        "docs_kept",
        "docs_decontaminated",
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
            "docs_decontaminated",
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
