"""Five registered queries: team-draft interleaving at k=6, Good-Turing
frequency smoothing, certified winnowing fingerprint dedup, frozen-merge
BPE tokenization and a complete edit-distance-2 double-deletion join.

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

# ---------- team-draft interleaving at k=6 (generated rounds) --

_TD6_TOPN = 40
_TD6_K = 6  # interleaved positions -> 3 coin rounds
_TD6_CLICK = 500


def _td6_oracle(
    topn: int = _TD6_TOPN, k: int = _TD6_K, ct: int = _TD6_CLICK
) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    q = f"({sql_md5_int('text')} % 1000)"

    def coin(r):
        expr = f"(source || '#coin{r}')"
        return f"({sql_md5_int(expr)} % 2)"

    team = {
        i: (coin(i) if i % 2 == 1 else f"1 - {coin(i - 1)}")
        for i in range(1, k + 1)
    }
    ctes = []
    picks = []
    for i in range(1, k + 1):
        excl = "\n        ".join(
            f"JOIN p{j} ON p{j}.source = r.source "
            f"AND r.doc_id != p{j}.d{j}"
            for j in range(1, i)
        )
        ctes.append(
            f"""p{i} AS (
        SELECT r.source,
               min_by(r.doc_id,
                   CASE WHEN t.t{i} = 0 THEN r.ra ELSE r.rb END)
                   AS d{i},
               min(t.t{i}) AS team{i}
        FROM ranked r JOIN teams t USING (source)
        {excl}
        GROUP BY r.source
    )"""
        )
        picks.append(
            f"SELECT source, {i} AS pos, d{i} AS doc_id, "
            f"team{i} AS team FROM p{i}"
        )
    all_ctes = ",\n    ".join(ctes)
    all_picks = "\n        UNION ALL\n        ".join(picks)
    tcols = ",\n               ".join(
        f"{team[i]} AS t{i}" for i in range(1, k + 1)
    )
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
        SELECT source, doc_id, quality,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id) AS ra,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY quality DESC, doc_id) AS rb
        FROM sliced
    ),
    teams AS (
        SELECT source,
               {tcols}
        FROM (SELECT DISTINCT source FROM sliced)
    ),
    {all_ctes},
    picks AS (
        {all_picks}
    )
    SELECT p.source,
           CAST(p.pos AS BIGINT) AS pos,
           p.doc_id,
           CAST(p.team AS BIGINT) AS team,
           (r.quality >= {ct}) AS clicked
    FROM picks p JOIN ranked r
      ON r.source = p.source AND r.doc_id = p.doc_id
    """


@query(
    "team_draft_interleave_k6_generated", oracle=_td6_oracle()
)
def team_draft_interleave_k6_generated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TEAM-DRAFT INTERLEAVING AT k={_TD6_K} WITH LOOP-GENERATED
    ROUNDS — the ROTATION_R17 round-18 seed: the staged k=4 row's
    hand-written p1..p4 chain becomes a LOOP that only BUILDS the
    lazy plan (the device the weighted-MMR row proved for greedy
    selection), so k scales without hand-written rounds. Three md5
    coins (one per pair of positions) decide draft order; position
    2r-1 goes to the round-r coin's team and position 2r to the
    other, each pick the min_by argmax over the not-yet-picked
    slice under that team's ranking. The deterministic click model
    labels every position; the graded table is the raw per-position
    interleaving log.

    Scale shape: identical to the k=4 row — one bounded
    top-{_TD6_TOPN} slice per source, then {_TD6_K} bounded
    join + min_by rounds over the slice. Corpus size touches only
    the slicing window. The generated-SQL twin drives DuckDB, so
    both engines draft the identical list at any k.

    Reference basis: retrieval-eval family
    (team_draft_interleave_preference staged k=4;
    mmr_diversified_topk_weighted r16 head — the loop-generation
    device this row ports to interleaving)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    topn, k, ct = _TD6_TOPN, _TD6_K, _TD6_CLICK
    docs = load_table(spark, sf_dir, "documents")
    q = f"({spark_md5_int('text')}) % 1000"
    sliced = (
        docs.select(
            "source",
            "doc_id",
            "n_chars",
            F.expr(q).alias("quality"),
            F.row_number()
            .over(Window.partitionBy("source").orderBy("doc_id"))
            .alias("rn"),
        )
        .where(F.col("rn") <= topn)
        .drop("rn")
    )
    ranked = sliced.select(
        "source",
        "doc_id",
        "quality",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.col("n_chars").desc(), "doc_id"
            )
        )
        .alias("ra"),
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.col("quality").desc(), "doc_id"
            )
        )
        .alias("rb"),
    )

    def coin(r):
        expr = f"concat(source, '#coin{r}')"
        return F.expr(f"({spark_md5_int(expr)}) % 2")

    teams = ranked.select("source").distinct().select(
        "source",
        *[
            (
                coin(i) if i % 2 == 1 else (1 - coin(i - 1))
            ).alias(f"t{i}")
            for i in range(1, k + 1)
        ],
    )
    cur = ranked.join(teams, "source")
    picks = None
    for i in range(1, k + 1):
        rank_used = F.when(
            F.col(f"t{i}") == 0, F.col("ra")
        ).otherwise(F.col("rb"))
        p = cur.groupBy("source").agg(
            F.min_by("doc_id", rank_used).alias(f"d{i}"),
            F.min(f"t{i}").alias(f"team{i}"),
        )
        sel = p.select(
            "source",
            F.lit(i).cast("long").alias("pos"),
            F.col(f"d{i}").alias("doc_id"),
            F.col(f"team{i}").cast("long").alias("team"),
        )
        picks = sel if picks is None else picks.unionByName(sel)
        cur = cur.join(
            p.select("source", f"d{i}"), "source"
        ).where(F.col("doc_id") != F.col(f"d{i}"))
    return picks.join(
        ranked.select("source", "doc_id", "quality"),
        ["source", "doc_id"],
    ).select(
        "source",
        "pos",
        "doc_id",
        "team",
        (F.col("quality") >= ct).alias("clicked"),
    )




# ---------- Good-Turing frequency smoothing (exact integers) -----

_GT_SCALE = 1000000  # ppm scale for the adjusted-count readout


def _gt_oracle(scale: int = _GT_SCALE) -> str:
    return f"""
    WITH ws AS (
        SELECT string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT array_to_string(w[i:i+2], ' ') AS gram
        FROM ws, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) p
        WHERE len(w) >= 3
    ),
    counts AS (SELECT gram, count(*) AS r FROM grams GROUP BY 1),
    fof AS (SELECT r, count(*) AS n_r FROM counts GROUP BY 1),
    tot AS (
        SELECT CAST(sum(r * n_r) AS BIGINT) AS n,
               CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END)
                    AS BIGINT) AS n1
        FROM fof
    )
    SELECT CAST(f.r AS BIGINT) AS r,
           CAST(f.n_r AS BIGINT) AS n_r,
           CAST(COALESCE(f2.n_r, 0) AS BIGINT) AS n_r_next,
           CAST((f.r + 1) * COALESCE(f2.n_r, 0) * {scale} // f.n_r
                AS BIGINT) AS r_star_ppm,
           t.n AS total_tokens,
           CAST(t.n1 * {scale} // t.n AS BIGINT) AS p_unseen_ppm
    FROM fof f
    LEFT JOIN fof f2 ON f2.r = f.r + 1
    CROSS JOIN tot t
    """


@query(
    "good_turing_frequency_smoothing", oracle=_gt_oracle()
)
def good_turing_frequency_smoothing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GOOD-TURING FREQUENCY SMOOTHING (Good 1953) — the classical
    language-model smoothing estimate, computed over the corpus word
    TRIGRAM counts (the n-gram-LM grain where the frequency spectrum
    is Zipf-rich: the fixture unigram vocabulary is a ~28-word salad
    with no singletons, while its trigram table populates classes
    r = 1, 2, 3, ... exactly as an LM event table does): from the
    frequency-of-frequencies table N_r (how many distinct trigrams
    occur exactly r times), the adjusted count is
    r* = (r+1) N_(r+1) / N_r and the total probability mass reserved
    for UNSEEN events is N_1 / N. Both are ratios of exact integers,
    graded as ppm-scaled integer divisions (identical floor semantics
    in both engines); the output grain is one row per occupied
    frequency class r, carrying N_r, N_(r+1), r*, the corpus event
    total, and the unseen mass.

    Scale shape: gram-grain explode (3 consecutive words joined; the
    per-doc transform is a bounded array HOF, no self-join) feeds ONE
    data shuffle (the trigram-count aggregate, partial+final map-side
    combined); the frequency-of-frequencies re-aggregate runs over
    the event-vocabulary grain (orders of magnitude smaller), and the
    r -> r+1 self-join plus the two corpus scalars operate on the
    O(100)-row N_r table — broadcast territory at any corpus size.
    The N_r table is the same artifact a 100 TB LM-data pipeline
    computes for Katz backoff or simple-Good-Turing fitting; nothing
    in the plan holds more than the vocabulary aggregate at once.

    Reference basis: statistics family precedent (latency percentiles,
    correlation matrix — BenchmarkRunner.scala:155-170's derived-stat
    convention); the LM-smoothing member alongside the staged
    ngram-familiarity and BPE rows (docs/ROTATION_R17.md round-18
    seed list)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select(F.split("text", " ").alias("w"))
        .where(F.size("w") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 2), i ->"
                    " concat_ws(' ', element_at(w, i),"
                    " element_at(w, i + 1), element_at(w, i + 2)))"
                )
            ).alias("gram")
        )
    )
    counts = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("r")
    )
    fof = counts.groupBy("r").agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )
    tot = fof.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n"),
        F.sum(
            F.when(F.col("r") == 1, F.col("n_r")).otherwise(0)
        )
        .cast("long")
        .alias("n1"),
    )
    nxt = fof.select(
        (F.col("r") - 1).alias("r_join"),
        F.col("n_r").alias("n_r_next"),
    )
    return (
        fof.join(
            F.broadcast(nxt), fof["r"] == nxt["r_join"], "left"
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("long").alias("r"),
            "n_r",
            F.coalesce("n_r_next", F.lit(0))
            .cast("long")
            .alias("n_r_next"),
            F.expr(
                f"(r + 1) * coalesce(n_r_next, 0) * {_GT_SCALE}"
                " div n_r"
            )
            .cast("long")
            .alias("r_star_ppm"),
            F.col("n").alias("total_tokens"),
            F.expr(f"n1 * {_GT_SCALE} div n")
            .cast("long")
            .alias("p_unseen_ppm"),
        )
    )


# ---------- winnowing-fingerprint dedup (MOSS second half) -------

_WFD_K = 12  # fingerprint gram length (MOSS-style noise threshold)
_WFD_W = 4  # winnowing window -> guarantee threshold t = w + k - 1
_WFD_HMOD = 1073741824  # 2^30 hash range
_WFD_PBASE = 4294967296  # 2^32 position field (round-17 bound)
_WFD_CAP = 20  # document-frequency cap for the bucket join
_WFD_MINLEN = 70  # plant only from docs holding a 60-char span


def _wfd_oracle(
    k: int = _WFD_K,
    w: int = _WFD_W,
    cap: int = _WFD_CAP,
) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    h = sql_md5_int(
        f"substring(c.text, CAST(p.pos AS INTEGER), {k})"
    )
    lim = _WFD_PBASE - 1
    return f"""
    WITH raw AS (
        SELECT doc_id, source, text, FALSE AS is_plag,
               doc_id AS orig_id
        FROM documents
        UNION ALL
        SELECT 'plag_' || doc_id, source,
               'zq' || substring(text, 11, 60) || 'xw', TRUE, doc_id
        FROM documents WHERE length(text) >= {_WFD_MINLEN}
    ),
    corpus AS (
        SELECT doc_id, source, is_plag, orig_id, text,
               CASE WHEN length(text) - {k} + 1 > {lim}
                    THEN CAST(error('winnowing dedup: document '
                         || 'exceeds the position bound; window '
                         || 'into spans first') AS BIGINT)
                    ELSE length(text) - {k} + 1 END AS n_grams
        FROM raw WHERE length(text) >= {k}
    ),
    grams AS (
        SELECT c.doc_id, c.source, c.is_plag, c.orig_id, p.pos,
               ({h}) % {_WFD_HMOD} AS h
        FROM corpus c,
             LATERAL (SELECT unnest(range(1, c.n_grams + 1)) AS pos) p
    ),
    keyed AS (
        SELECT doc_id, source, is_plag, orig_id, pos,
               min(h * {_WFD_PBASE} + ({_WFD_PBASE} - 1 - pos))
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN {w - 1} PRECEDING
                              AND CURRENT ROW) AS sel_key
        FROM grams
    ),
    fp AS (
        SELECT DISTINCT doc_id, source, is_plag, orig_id,
               sel_key // {_WFD_PBASE} AS h
        FROM keyed WHERE pos >= {w}
    ),
    dfreq AS (SELECT h, count(*) AS n_docs_h FROM fp GROUP BY 1),
    econ AS (
        SELECT CAST(count(*) AS BIGINT) AS n_fingerprints,
               CAST(sum(CASE WHEN n_docs_h > {cap} THEN 1 ELSE 0
                        END) AS BIGINT) AS n_hot_fingerprints,
               CAST(sum(CASE WHEN n_docs_h <= {cap}
                        THEN n_docs_h * (n_docs_h - 1) // 2
                        ELSE 0 END) AS BIGINT) AS candidate_volume
        FROM dfreq
    ),
    shared AS (
        SELECT o.orig_id AS o_id, o.source AS o_source, o.h
        FROM (SELECT * FROM fp WHERE NOT is_plag) o
        JOIN (SELECT * FROM fp WHERE is_plag) pl
          ON pl.orig_id = o.orig_id AND pl.h = o.h
    ),
    cert AS (SELECT o_id, count(*) AS n_sh FROM shared GROUP BY 1),
    rare AS (
        SELECT s.o_id, count(*) AS n_rare
        FROM shared s JOIN dfreq d ON d.h = s.h
        WHERE d.n_docs_h <= {cap}
        GROUP BY 1
    ),
    planted AS (
        SELECT orig_id AS p_id, source AS p_source
        FROM raw WHERE is_plag
    ),
    per_src AS (
        SELECT p.p_source AS source,
               CAST(count(*) AS BIGINT) AS n_planted,
               CAST(sum(CASE WHEN c.o_id IS NOT NULL THEN 1 ELSE 0
                        END) AS BIGINT) AS n_certified_found,
               CAST(sum(CASE WHEN r.o_id IS NOT NULL THEN 1 ELSE 0
                        END) AS BIGINT) AS n_capped_found
        FROM planted p
        LEFT JOIN cert c ON c.o_id = p.p_id
        LEFT JOIN rare r ON r.o_id = p.p_id
        GROUP BY 1
    ),
    srcs AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1
    )
    SELECT s.source, s.n_docs,
           COALESCE(x.n_planted, 0) AS n_planted,
           COALESCE(x.n_certified_found, 0) AS n_certified_found,
           CASE WHEN COALESCE(x.n_planted, 0) = 0 THEN 0
                ELSE x.n_certified_found * 10000 // x.n_planted
                END AS certified_recall_pm,
           COALESCE(x.n_capped_found, 0) AS n_capped_found,
           CASE WHEN COALESCE(x.n_planted, 0) = 0 THEN 0
                ELSE x.n_capped_found * 10000 // x.n_planted
                END AS capped_recall_pm,
           e.n_fingerprints, e.n_hot_fingerprints,
           e.candidate_volume
    FROM srcs s
    LEFT JOIN per_src x ON x.source = s.source
    CROSS JOIN econ e
    """


@query(
    "winnowing_fingerprint_dedup_certified", oracle=_wfd_oracle()
)
def winnowing_fingerprint_dedup_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WINNOWING-FINGERPRINT DEDUP — the MOSS pipeline's second half
    (Schleimer/Wilkerson/Aiken 2003 §4): the graduated winnowing row
    SELECTS fingerprints; this row uses the position-free selected
    hashes as DEDUP KEYS, with recall CERTIFIED against planted
    shared substrings. The corpus is doubled in-query: every doc >=
    70 chars plants a 'plag_'-twin carrying a verbatim 60-char span
    of the original inside fresh flanks. Because 60 >= t = w+k-1 =
    15, the winnowing guarantee promises every planted pair shares
    at least one selected fingerprint — certified_recall_pm is
    graded and must be 10000. The SCALE path is the banded-join
    economics: per-fingerprint document frequency, the hot-key count
    above the df cap ({_WFD_CAP}), and the exact candidate-
    comparison volume sum C(df,2) over rare keys — computed from the
    df histogram WITHOUT materializing the quadratic pair set (the
    same no-enumeration discipline as join_cardinality_histogram's
    sum-of-products). Planted-pair detection itself needs no bucket
    join either: the pair identity is known, so shared fingerprints
    come from an equi-join on (orig_id, h).

    Scale shape: gram-grain explode, one per-doc-bounded window
    pass, distinct to the (doc, h) fingerprint grain — identical to
    the graduated winnowing row, k=12 — then ONE aggregate to the
    fingerprint-frequency grain and small joins: the df histogram
    collapses to O(distinct h); the shared-fingerprint join is
    planted-pair-bounded; per-source rollup is |sources| rows. At
    100 TB the rare-bucket pair join this row prices out runs as a
    minhash-band-style shuffle on h with the hot keys dropped — the
    df cap is what keeps word-salad-common grams from quadratic
    blowup, and the certified recall quantifies what the cap costs
    on KNOWN duplicate pairs (shared spans select rare keys too, so
    capped recall stays high; both numbers are graded, not assumed).

    Position bound: same 2^32 composite-key field as the graduated
    row, enforced fail-loud in both engines at the doc grain.

    Reference basis: dedup family (dedup_minhash_lsh flagship —
    probabilistic sketches; dedup_ngram_jaccard — PPJoin prefix
    filtering; this row adds the POSITIONAL fingerprint scheme whose
    guarantee is exact-substring coverage)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    k, w, cap = _WFD_K, _WFD_W, _WFD_CAP
    docs = load_table(spark, sf_dir, "documents")
    orig = docs.select(
        "doc_id",
        "source",
        "text",
        F.lit(False).alias("is_plag"),
        F.col("doc_id").alias("orig_id"),
    )
    plag = docs.where(F.length("text") >= _WFD_MINLEN).select(
        F.concat(F.lit("plag_"), "doc_id").alias("doc_id"),
        "source",
        F.concat(
            F.lit("zq"),
            F.expr("substring(text, 11, 60)"),
            F.lit("xw"),
        ).alias("text"),
        F.lit(True).alias("is_plag"),
        F.col("doc_id").alias("orig_id"),
    )
    corpus = orig.unionByName(plag).where(F.length("text") >= k)
    n_grams_checked = F.coalesce(
        F.assert_true(
            F.length("text") - k + 1 <= F.lit(_WFD_PBASE - 1),
            F.lit(
                "winnowing dedup: document exceeds the position "
                "bound; window into spans first"
            ),
        ).cast("int"),
        F.length("text") - k + 1,
    )
    grams = (
        corpus.select(
            "doc_id",
            "source",
            "is_plag",
            "orig_id",
            "text",
            n_grams_checked.alias("n_grams"),
        )
        .select(
            "doc_id",
            "source",
            "is_plag",
            "orig_id",
            "text",
            F.explode(F.expr("sequence(1, n_grams)")).alias("pos"),
        )
        .select(
            "doc_id",
            "source",
            "is_plag",
            "orig_id",
            "pos",
            (
                F.expr(spark_md5_int(f"substring(text, pos, {k})"))
                % _WFD_HMOD
            ).alias("h"),
        )
    )
    wf = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(w - 1), 0)
    )
    fp = (
        grams.select(
            "doc_id",
            "source",
            "is_plag",
            "orig_id",
            "pos",
            F.min(
                F.col("h") * _WFD_PBASE
                + (F.lit(_WFD_PBASE - 1) - F.col("pos"))
            )
            .over(wf)
            .alias("sel_key"),
        )
        .where(F.col("pos") >= w)
        .select(
            "doc_id",
            "source",
            "is_plag",
            "orig_id",
            F.expr(f"sel_key div {_WFD_PBASE}")
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    dfreq = fp.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_h")
    )
    econ = dfreq.agg(
        F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
        F.sum(
            F.when(F.col("n_docs_h") > cap, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_hot_fingerprints"),
        F.sum(
            F.when(
                F.col("n_docs_h") <= cap,
                F.expr("n_docs_h * (n_docs_h - 1) div 2"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("candidate_volume"),
    )
    fpo = fp.where(~F.col("is_plag")).select(
        F.col("orig_id").alias("o_id"),
        F.col("source").alias("o_source"),
        F.col("h").alias("o_h"),
    )
    fpp = fp.where(F.col("is_plag")).select(
        F.col("orig_id").alias("pl_id"), F.col("h").alias("pl_h")
    )
    shared = fpo.join(
        fpp,
        (fpo["o_id"] == fpp["pl_id"]) & (fpo["o_h"] == fpp["pl_h"]),
    ).select("o_id", "o_source", F.col("o_h").alias("h"))
    cert = shared.groupBy("o_id").agg(
        F.count(F.lit(1)).alias("n_sh")
    )
    rare = (
        shared.join(dfreq, "h")
        .where(F.col("n_docs_h") <= cap)
        .groupBy(F.col("o_id").alias("r_id"))
        .agg(F.count(F.lit(1)).alias("n_rare"))
    )
    planted = plag.select(
        F.col("orig_id").alias("p_id"),
        F.col("source").alias("p_source"),
    )
    per_src = (
        planted.join(cert, planted["p_id"] == cert["o_id"], "left")
        .join(rare, planted["p_id"] == rare["r_id"], "left")
        .groupBy(F.col("p_source").alias("source"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_planted"),
            F.sum(
                F.when(F.col("o_id").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_certified_found"),
            F.sum(
                F.when(F.col("r_id").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_capped_found"),
        )
    )
    srcs = docs.groupBy(F.col("source").alias("s_src")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        srcs.join(per_src, srcs["s_src"] == per_src["source"], "left")
        .crossJoin(F.broadcast(econ))
        .select(
            F.col("s_src").alias("source"),
            "n_docs",
            F.coalesce("n_planted", F.lit(0))
            .cast("long")
            .alias("n_planted"),
            F.coalesce("n_certified_found", F.lit(0))
            .cast("long")
            .alias("n_certified_found"),
            F.when(
                F.coalesce("n_planted", F.lit(0)) == 0, F.lit(0)
            )
            .otherwise(
                F.expr("n_certified_found * 10000 div n_planted")
            )
            .cast("long")
            .alias("certified_recall_pm"),
            F.coalesce("n_capped_found", F.lit(0))
            .cast("long")
            .alias("n_capped_found"),
            F.when(
                F.coalesce("n_planted", F.lit(0)) == 0, F.lit(0)
            )
            .otherwise(
                F.expr("n_capped_found * 10000 div n_planted")
            )
            .cast("long")
            .alias("capped_recall_pm"),
            "n_fingerprints",
            "n_hot_fingerprints",
            "candidate_volume",
        )
    )


# ---------- BPE apply: frozen merges -> corpus tokenization ------

_BPEA_STEPS = 3


def _bpea_oracle(steps: int = _BPEA_STEPS) -> str:
    from sparkksqldbbenchmark_spark.plans.round17_queries import (
        _bpe_step_sql,
    )

    ctes = ",".join(_bpe_step_sql(k) for k in range(steps))
    merges = ", ".join(
        f"(SELECT ml || '+' || mr FROM b{k}) AS merge{k + 1}"
        for k in range(steps)
    )
    return f"""
    WITH words AS (
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE length(word) >= 1
        GROUP BY word
    ),
    s0 AS (
        SELECT w.word, w.freq, CAST(p.pos AS BIGINT) AS pos,
               substring(w.word, CAST(p.pos AS INTEGER), 1) AS sym
        FROM words w, LATERAL (SELECT unnest(
            range(1, length(w.word) + 1)) AS pos) p
    ),{ctes},
    mg AS (SELECT {merges})
    SELECT s.word,
           CAST(max(s.freq) AS BIGINT) AS freq,
           CAST(count(*) AS BIGINT) AS n_tokens,
           string_agg(s.sym, '|' ORDER BY s.pos) AS toks,
           max(m.merge1) AS merge1,
           max(m.merge2) AS merge2,
           max(m.merge3) AS merge3
    FROM s{steps} s CROSS JOIN mg m
    GROUP BY s.word
    """


@query(
    "bpe_apply_frozen_merges_tokenization", oracle=_bpea_oracle()
)
def bpe_apply_frozen_merges_tokenization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BPE TRAIN->APPLY ROUND TRIP — the ROTATION_R17 round-18 seed:
    the graduated bpe_merge_supersteps_greedy row trains 3 merges and
    grades per-step STATISTICS (pair, count, vocab size); this row
    freezes those same learned merges and grades the TOKENIZATION the
    apply side produces — the word-type-grain symbol sequences after
    all merges, value-for-value — plus the frozen merge list itself
    as constant columns. Training and applying on the same corpus
    coincide state-wise, so the apply readout doubles as an
    end-to-end audit of the run-parity greedy device: every word's
    final token string must byte-match the sequential left-to-right
    merge replay (see the witness test).

    Scale shape: the apply is a SCAN-SIDE FOLD over the word-TYPE
    table (distinct words, orders of magnitude smaller than the
    corpus; each merge is one per-word bounded window pass + a 1-row
    broadcast of the frozen pair — no supersteps over corpus grain,
    no driver loop over data). At 100 TB the type table is the only
    shuffled grain, exactly how production tokenizer-application
    pipelines fold: tokenize types once, re-expand by frequency via
    broadcast join. The per-word readout string is bounded by word
    length.

    Reference basis: tokenization family (bpe_merge_supersteps_greedy
    r17 head — the train side whose _bpe_chain this row reuses;
    text_token_counts TAIL — whitespace/BPE-ish counting per SURVEY
    training-data ops)."""
    from sparkksqldbbenchmark_spark.plans.round17_queries import (
        _bpe_chain,
    )

    state, bests = _bpe_chain(spark, sf_dir, _BPEA_STEPS)
    mg = None
    for k, (best, _post) in enumerate(bests):
        one = best.select(
            F.concat("ml", F.lit("+"), "mr").alias(f"merge{k + 1}")
        )
        mg = one if mg is None else mg.crossJoin(one)
    return (
        state.groupBy("word")
        .agg(
            F.max("freq").cast("long").alias("freq"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(pos, sym))), x -> x.sym), '|')"
            ).alias("toks"),
        )
        .crossJoin(F.broadcast(mg))
    )


# ---------- edit-distance-2 join via double deletions ------------


def _edit2_oracle() -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    i0 = f"({sql_md5_int('word')} % (length(word) - 1)) + 1"
    j0 = (
        f"({i0}) + 1 + ({sql_md5_int(chr(39) + 'j#' + chr(39) + ' || word')}"
        f" % (length(word) - ({i0})))"
    )
    return f"""
    WITH words AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    base AS (SELECT word FROM words WHERE length(word) >= 4),
    planted AS (
        SELECT substring(word, 1, CAST(i0 AS INTEGER) - 1)
               || substring(word, CAST(i0 AS INTEGER) + 1,
                            CAST(j0 - i0 AS INTEGER) - 1)
               || substring(word, CAST(j0 AS INTEGER) + 1) AS word
        FROM (SELECT word, {i0} AS i0, {j0} AS j0 FROM base)
    ),
    vocab AS (
        SELECT word,
               max(CASE WHEN tag = 'orig' THEN 1 ELSE 0 END)
                   AS is_orig
        FROM (SELECT word, 'orig' AS tag FROM base
              UNION ALL
              SELECT word, 'var' AS tag FROM planted)
        GROUP BY word
    ),
    sigs AS (
        SELECT word, is_orig, word AS sig FROM vocab
        UNION
        SELECT word, is_orig,
               substring(word, 1, CAST(i AS INTEGER) - 1)
                   || substring(word, CAST(i AS INTEGER) + 1) AS sig
        FROM vocab, LATERAL (
            SELECT unnest(range(1, length(word) + 1)) AS i) r
        UNION
        SELECT word, is_orig,
               substring(word, 1, CAST(i AS INTEGER) - 1)
                   || substring(word, CAST(i AS INTEGER) + 1,
                                CAST(j - i AS INTEGER) - 1)
                   || substring(word, CAST(j AS INTEGER) + 1) AS sig
        FROM vocab,
             LATERAL (SELECT unnest(range(1, length(word))) AS i) r1,
             LATERAL (SELECT unnest(range(CAST(i AS BIGINT) + 1,
                          length(word) + 1)) AS j) r2
    ),
    econ AS (
        SELECT CAST(count(*) AS BIGINT) AS n_signatures FROM sigs
    ),
    cand AS (
        SELECT DISTINCT a.word AS word_a, a.is_orig AS orig_a,
               b.word AS word_b, b.is_orig AS orig_b
        FROM sigs a JOIN sigs b
          ON b.sig = a.sig AND a.word < b.word
    ),
    cecon AS (
        SELECT CAST(count(*) AS BIGINT) AS n_candidate_pairs
        FROM cand
    )
    SELECT word_a, word_b,
           (orig_a = 1) AS a_in_corpus,
           (orig_b = 1) AS b_in_corpus,
           CAST(levenshtein(word_a, word_b) AS BIGINT) AS lev,
           e.n_signatures, c.n_candidate_pairs
    FROM cand CROSS JOIN econ e CROSS JOIN cecon c
    WHERE levenshtein(word_a, word_b) <= 2
    """


@query(
    "edit2_double_deletion_join_complete", oracle=_edit2_oracle()
)
def edit2_double_deletion_join_complete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EDIT-DISTANCE-2 JOIN VIA DOUBLE-DELETION SIGNATURES — the
    graduated edit1 row's FastSS theorem at radius 2: every string
    signs with itself, every single deletion, and every DOUBLE
    deletion (1 + L + C(L,2) signatures). Two strings at Levenshtein
    distance <= 2 always share a signature — per edit op, delete the
    substituted position from both sides or the inserted/deleted
    character from its side; <= 2 ops means <= 2 deletions per side —
    so the equi-join on sig is COMPLETE, and exact levenshtein (<= 2)
    confirms candidates. Each corpus word >= 4 chars plants one
    md5-positioned double-deletion variant, guaranteeing distance-2
    pairs exist; the graded pair set carries the exact distance and
    corpus-membership tags, and the CANDIDATE-SET ECONOMICS the seed
    asked for ride as constant columns: the quadratic signature count
    and the pre-verification candidate-pair count — the measured cost
    of buying theorem-recall at radius 2.

    Scale shape: signatures explode each vocabulary word into
    O(L^2) short strings — quadratic in WORD LENGTH, linear in vocab
    (the economics column makes the constant visible); the join is a
    pure signature equi-join (bucket-collision density), and
    verification touches only emitted candidates. The vocabulary
    grain is corpus-independent, so the plan's data shuffle is the
    initial distinct — everything downstream is vocabulary-sized,
    just like the edit1 row it extends.

    Reference basis: dedup family (edit1_neighborhood_join_complete
    r17 head — radius 1; fuzzy_dedup_levenshtein TAIL — the
    heuristic this family upgrades with exact-recall guarantees)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select(
            F.explode(F.split("text", " ")).alias("word")
        )
        .distinct()
        .where(F.length("word") >= 4)
    )
    i0 = f"(({spark_md5_int('word')}) % (length(word) - 1)) + 1"
    j0 = (
        f"({i0}) + 1 + (({spark_md5_int(chr(39) + 'j#' + chr(39) + ' || word')})"
        f" % (length(word) - ({i0})))"
    )
    planted = base.select(
        F.expr(
            f"concat(substring(word, 1, cast(({i0}) as int) - 1),"
            f" substring(word, cast(({i0}) as int) + 1,"
            f" cast(({j0}) - ({i0}) as int) - 1),"
            f" substring(word, cast(({j0}) as int) + 1))"
        ).alias("word")
    )
    vocab = (
        base.select("word", F.lit(1).alias("o"))
        .unionByName(planted.select("word", F.lit(0).alias("o")))
        .groupBy("word")
        .agg(F.max("o").alias("is_orig"))
    )
    del1 = vocab.select(
        "word",
        "is_orig",
        F.explode(F.expr("sequence(1, length(word))")).alias("i"),
    ).select(
        "word",
        "is_orig",
        F.expr(
            "concat(substring(word, 1, i - 1),"
            " substring(word, i + 1))"
        ).alias("sig"),
    )
    del2 = (
        vocab.where(F.length("word") >= 2)
        .select(
            "word",
            "is_orig",
            F.explode(
                F.expr("sequence(1, length(word) - 1)")
            ).alias("i"),
        )
        .select(
            "word",
            "is_orig",
            "i",
            F.explode(
                F.expr("sequence(i + 1, length(word))")
            ).alias("j"),
        )
        .select(
            "word",
            "is_orig",
            F.expr(
                "concat(substring(word, 1, i - 1),"
                " substring(word, i + 1, j - i - 1),"
                " substring(word, j + 1))"
            ).alias("sig"),
        )
    )
    sigs = (
        vocab.select("word", "is_orig", F.col("word").alias("sig"))
        .unionByName(del1)
        .unionByName(del2)
        .distinct()
    )
    econ = sigs.agg(
        F.count(F.lit(1)).cast("long").alias("n_signatures")
    )
    a = sigs.select(
        F.col("word").alias("word_a"),
        F.col("is_orig").alias("orig_a"),
        F.col("sig").alias("sig_a"),
    )
    b = sigs.select(
        F.col("word").alias("word_b"),
        F.col("is_orig").alias("orig_b"),
        F.col("sig").alias("sig_b"),
    )
    cand = (
        a.join(
            b,
            (a["sig_a"] == b["sig_b"])
            & (a["word_a"] < b["word_b"]),
        )
        .select("word_a", "orig_a", "word_b", "orig_b")
        .distinct()
    )
    cecon = cand.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidate_pairs")
    )
    return (
        cand.where(F.expr("levenshtein(word_a, word_b) <= 2"))
        .crossJoin(F.broadcast(econ))
        .crossJoin(F.broadcast(cecon))
        .select(
            "word_a",
            "word_b",
            (F.col("orig_a") == 1).alias("a_in_corpus"),
            (F.col("orig_b") == 1).alias("b_in_corpus"),
            F.expr("levenshtein(word_a, word_b)")
            .cast("long")
            .alias("lev"),
            "n_signatures",
            "n_candidate_pairs",
        )
    )
