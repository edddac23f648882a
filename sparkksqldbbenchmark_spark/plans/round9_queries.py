"""Round-9 graduated queries (formerly the plans/next_round.py staging
area, rotated into the driver-graded head per docs/ROTATION_R9.md).

Every query here was DuckDB-oracle-verified at sf0.001 AND sf0.01 AND
sf0.1.

The cohort: the nine machinery-sibling rows held back from the round-8
graduation (42 staged > 33 free slots then), plus the twenty-four
staged fresh in round 8 -- video-as-a-modality, the two LLM text
operators (exact-substring spans, n-gram LM familiarity), the ops/
format rows (State Data Source, dynamic-partition backfill,
mergeSchema, ORC, foreachBatch exactly-once, streaming Python
DataSource sink), mapInArrow, AQE skew split, cache reuse, and the
SQL-surface breadth rows.

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
# Held back from the round-8 graduation (docs/ROTATION_R8.md): graded
# siblings cover each one's machinery; they graduate in round 9.
# ===================================================================

@query(
    "inline_struct_explode",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ')[1:5] AS l
        FROM documents WHERE doc_id < 400
    )
    SELECT doc_id,
           u.e AS tok,
           CAST(len(u.e) AS INTEGER) AS tok_len
    FROM t, LATERAL (SELECT unnest(l) AS e) u
    """,
)
def inline_struct_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`inline` — the struct-array generator: transform tokens into an
    array<struct<tok, tok_len>> and explode it to COLUMNS in one step
    (explode would yield a single struct column needing a second
    projection). The oracle unnests the source list and recomputes the
    struct fields relationally.

    Scale shape: same narrow Generate operator as explode — the struct
    construction is codegen inside the transform lambda, the inline
    flattening is projection, no shuffle anywhere."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    t = docs.select(
        "doc_id",
        F.expr(
            "transform(slice(split(text, ' '), 1, 5),"
            " x -> struct(x AS tok, CAST(length(x) AS INT) AS tok_len))"
        ).alias("structs"),
    )
    return t.select("doc_id", F.expr("inline(structs)"))


# ----------------------------------------------------- string breadth --


@query(
    "string_suite2",
    oracle="""
    SELECT c_custkey,
           split_part(c_name, '#', 2) AS cust_num,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_translated,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
           rpad(substr(c_mktsegment, 1, 3), 6, '.') AS seg_cell,
           reverse(c_mktsegment) AS seg_rev,
           repeat('*', CAST(c_nationkey % 5 AS INTEGER)) AS stars,
           CAST(strpos(c_name, '0') AS INTEGER) AS first_zero,
           left(c_name, 8) AS name_left,
           right(c_name, 4) AS name_right,
           CAST(ascii(c_mktsegment) AS INTEGER) AS seg_ascii,
           chr(65 + CAST(c_custkey % 26 AS INTEGER)) AS bucket_chr,
           concat(substr(c_name, 1, 8), '@@',
                  substr(c_name, 11)) AS name_overlaid
    FROM customer WHERE c_custkey < 400
    """,
)
def string_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function breadth round two: split_part, translate,
    lpad/rpad, reverse, repeat, instr/strpos, left/right, ascii, chr,
    and overlay — `overlay` graded against DuckDB's substr-splice
    because DuckDB lacks the SQL-standard OVERLAY (the one asymmetry in
    this suite; the splice is the defining identity of overlay).

    Scale shape: pure scan-side codegen, zero shuffles — the
    c_custkey < 400 slice only bounds graded output size."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 400)
    return c.select(
        "c_custkey",
        F.expr("split_part(c_name, '#', 2)").alias("cust_num"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias(
            "seg_translated"
        ),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias(
            "key_padded"
        ),
        F.rpad(F.expr("substr(c_mktsegment, 1, 3)"), 6, ".").alias(
            "seg_cell"
        ),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.expr("repeat('*', CAST(c_nationkey % 5 AS INT))").alias("stars"),
        F.expr("instr(c_name, '0')").cast("int").alias("first_zero"),
        F.expr("left(c_name, 8)").alias("name_left"),
        F.expr("right(c_name, 4)").alias("name_right"),
        F.ascii("c_mktsegment").alias("seg_ascii"),
        F.expr("chr(65 + c_custkey % 26)").alias("bucket_chr"),
        F.expr("overlay(c_name PLACING '@@' FROM 9 FOR 2)").alias(
            "name_overlaid"
        ),
    )


# ----------------------------------------------------- bitwise algebra --


@query(
    "bitwise_suite",
    oracle="""
    SELECT CAST(event_id % 16 AS BIGINT) AS bucket,
           CAST(sum(bit_count(event_id)) AS BIGINT) AS total_bits,
           CAST(sum(event_id & 255) AS BIGINT) AS sum_low_byte,
           CAST(sum(event_id | 4096) AS BIGINT) AS sum_or,
           CAST(sum(xor(event_id, 1365)) AS BIGINT) AS sum_xor,
           CAST(sum(event_id << 2) AS BIGINT) AS sum_shl,
           CAST(sum(event_id >> 3) AS BIGINT) AS sum_shr,
           CAST(bit_and(event_id) AS BIGINT) AS agg_and,
           CAST(bit_or(event_id % 1024) AS BIGINT) AS agg_or,
           CAST(bit_xor(event_id) AS BIGINT) AS agg_xor
    FROM events
    GROUP BY 1
    """,
)
def bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise algebra, scalar and aggregate: &, |, xor, shifts and
    bit_count row-side; bit_and / bit_or / bit_xor as aggregates.
    Cross-engine syntax is a genuine minefield graded here: Spark's
    `^` is XOR while DuckDB's `^` is POWER (the oracle uses xor());
    Spark spells shifts shiftleft/shiftright, DuckDB << / >> — same
    two's-complement semantics underneath, proven by the value hash.

    Scale shape: one partial-aggregated shuffle on a 16-value key; the
    bitwise aggregates are algebraic (partials compose), so map-side
    combine absorbs everything — identical shape to any sum."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        (F.col("event_id") % 16).alias("bucket")
    ).agg(
        F.sum(F.bit_count("event_id")).alias("total_bits"),
        F.sum(F.col("event_id").bitwiseAND(255)).alias("sum_low_byte"),
        F.sum(F.col("event_id").bitwiseOR(4096)).alias("sum_or"),
        F.sum(F.col("event_id").bitwiseXOR(1365)).alias("sum_xor"),
        F.sum(F.shiftleft(F.col("event_id"), 2)).alias("sum_shl"),
        F.sum(F.shiftright(F.col("event_id"), 3)).alias("sum_shr"),
        F.bit_and("event_id").alias("agg_and"),
        F.bit_or(F.col("event_id") % 1024).alias("agg_or"),
        F.bit_xor("event_id").alias("agg_xor"),
    )


# --------------------------------------------- width_bucket histogram --


@query(
    "width_bucket_histogram",
    oracle="""
    SELECT CAST(CASE WHEN value < 0 THEN 0
                     WHEN value >= 500 THEN 11
                     ELSE floor(value * 10 / 500) + 1 END
                AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(min(floor(value * 100)) AS BIGINT) AS min_cents,
           CAST(max(floor(value * 100)) AS BIGINT) AS max_cents
    FROM events
    GROUP BY 1
    """,
)
def width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via `width_bucket(v, 0, 500, 10)` — the
    SQL-standard binning function (bucket 0 = underflow, n+1 =
    overflow). DuckDB lacks width_bucket, so the oracle replays its
    defining arithmetic (floor(v·n/(hi−lo))+1 with boundary clamps) —
    which is exactly what the function computes, making the identity
    the graded claim. Per-bucket min/max in integer cents certify the
    bucket boundaries, not just the counts.

    Scale shape: the bucket id is scan-side codegen; one
    partial-aggregated shuffle on a 12-value key. This is the
    braindead-simple distributed histogram — contrast with the exact
    nearest-rank percentile row which needs the cumulative pass."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.expr("width_bucket(value, 0, 500, 10)").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.floor(F.col("value") * 100)).alias("min_cents"),
        F.max(F.floor(F.col("value") * 100)).alias("max_cents"),
    )


# -------------------------------------------- share-of-total report --


@query(
    "ratio_to_report_share",
    oracle="""
    SELECT doc_id, source, n_chars,
           CAST(n_chars * 1000000
                // sum(n_chars) OVER (PARTITION BY source)
                AS BIGINT) AS share_ppm,
           CAST(n_chars * 1000000 // sum(n_chars) OVER ()
                AS BIGINT) AS global_ppm
    FROM documents WHERE doc_id < 300
    """,
)
def ratio_to_report_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total (Oracle's RATIO_TO_REPORT): each document's
    fraction of its source's characters and of the global corpus, in
    integer parts-per-million (floor division — no float ratio ever
    reaches the comparator). The unordered window sum is the one window
    shape the suite had not graded: no ORDER BY, so every row in the
    partition sees the SAME total (a broadcast-style aggregate inside
    window syntax).

    Scale shape: the per-source share is one hash exchange; the GLOBAL
    share is the single-partition trap — here the graded slice is
    bounded, and the 100 TB form replaces `OVER ()` with a 1-row
    aggregate broadcast-joined back (the pattern tfidf/funnel rows
    pin), which Catalyst produces the same numbers for. The row grades
    the SEMANTICS; the design note is the rewrite."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.expr(
            "CAST(n_chars * 1000000 DIV sum(n_chars)"
            " OVER (PARTITION BY source) AS BIGINT)"
        ).alias("share_ppm"),
        F.expr(
            "CAST(n_chars * 1000000 DIV sum(n_chars) OVER () AS BIGINT)"
        ).alias("global_ppm"),
    )


# ------------------------------------- log2 token-length histogram --


@query(
    "token_length_log_histogram",
    oracle="""
    WITH t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok
        FROM documents
    )
    SELECT CAST(floor(log2(n_tok)) AS BIGINT) AS log2_bucket,
           count(*) AS n_docs,
           CAST(min(n_tok) AS BIGINT) AS min_tok,
           CAST(max(n_tok) AS BIGINT) AS max_tok
    FROM t WHERE n_tok > 0
    GROUP BY 1
    """,
)
def token_length_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document-length histogram — the standard corpus
    length profile (token counts span orders of magnitude; linear bins
    waste resolution). floor(log2(n)) is cross-engine exact: log2 of a
    power of two is correctly rounded to the exact integer in every
    IEEE libm, and between powers the value is nowhere near an integer
    boundary, so floor never straddles an ulp. Per-bucket min/max
    certify the bucket EDGES are bit-identical, not just the counts.

    Scale shape: scan-side split+size+log2, one partial-aggregated
    shuffle on a ~7-value key — the same braindead-parallel histogram
    shape as width_bucket, on the log scale corpora actually need."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    ).where(F.col("n_tok") > 0)
    return t.groupBy(
        F.floor(F.log2("n_tok")).alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tok").cast("long").alias("min_tok"),
        F.max("n_tok").cast("long").alias("max_tok"),
    )


# ---------------------------------------------- dynamic (discovered) pivot --


@query(
    "pivot_dynamic_two_pass",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
                AS BIGINT) AS click,
           CAST(count(CASE WHEN event_type = 'error' THEN 1 END)
                AS BIGINT) AS error,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
                AS BIGINT) AS purchase,
           CAST(count(CASE WHEN event_type = 'signup' THEN 1 END)
                AS BIGINT) AS signup,
           CAST(count(CASE WHEN event_type = 'view' THEN 1 END)
                AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
)
def pivot_dynamic_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic pivot — `pivot(col)` WITHOUT an explicit value list, the
    form analysts reach for when the category set isn't known up front.
    Spark implements it as two passes: a distinct-scan of the pivot
    column (collected to the driver, capped by
    spark.sql.pivotMaxValues) and then the same Expand aggregate the
    explicit-values form plans. The oracle hand-writes the CASE columns
    for the discovered set, proving discovery + pivot ≡ explicit
    conditional aggregation. Columns come out value-sorted, making the
    schema deterministic.

    Scale shape: the discovery pass is a partial-aggregated distinct on
    a LOW-cardinality column (its whole premise) — cheap but a real
    extra scan and a driver-side collect, which is exactly why the
    explicit-values form (pivot_hourly_by_type, graded r04) is the
    production recommendation; this row grades the convenience form's
    semantics and documents its cost honestly."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type")
        .agg(F.count(F.lit(1)))
        .select(
            "day",
            *[
                F.coalesce(F.col(c), F.lit(0)).alias(c)
                for c in ("click", "error", "purchase", "signup", "view")
            ],
        )
    )


# ----------------------------------------------- CSV line codec --


@query(
    "csv_line_codec_suite",
    oracle="""
    SELECT c_custkey,
           c_mktsegment AS rt_seg,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS rt_cents,
           CAST(c_nationkey AS BIGINT) AS m_nation,
           CAST(c_custkey % 10 AS BIGINT) AS m_shard
    FROM customer WHERE c_custkey < 500
    """,
)
def csv_line_codec_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV-line and key-value-line codecs as expressions: `to_csv` a
    struct → `from_csv` it back with a schema (the embedded-CSV-column
    shape: logs carrying CSV payloads inside another format), and
    `str_to_map` over a synthesized 'k:v,k:v' properties string — both
    decoded values must reproduce the source columns (identity oracle).
    The map path pulls scalar lookups only, since map ordering is
    engine-private.

    Scale shape: pure scan-side codegen, zero shuffles. Same production
    note as JSON/XML: from_csv once with the full schema beats
    re-splitting per field."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 500)
    enc = c.select(
        "c_custkey",
        F.expr(
            "to_csv(struct(c_mktsegment,"
            " CAST(floor(c_acctbal * 100) AS BIGINT)))"
        ).alias("line"),
        F.concat(
            F.lit("nation:"),
            F.col("c_nationkey").cast("string"),
            F.lit(",shard:"),
            (F.col("c_custkey") % 10).cast("string"),
        ).alias("props"),
    )
    return enc.select(
        "c_custkey",
        F.expr("from_csv(line, 'seg STRING, cents BIGINT')").alias("s"),
        F.expr("str_to_map(props, ',', ':')").alias("m"),
    ).select(
        "c_custkey",
        F.col("s.seg").alias("rt_seg"),
        F.col("s.cents").alias("rt_cents"),
        F.element_at("m", F.lit("nation")).cast("long").alias("m_nation"),
        F.element_at("m", F.lit("shard")).cast("long").alias("m_shard"),
    )


# ------------------------------------------- checksum / encodings --


@query(
    "checksum_encoding_suite",
    oracle="""
    SELECT doc_id,
           md5(text) AS text_md5,
           sha256(text) AS text_sha256,
           hex(doc_id) AS id_hex,
           to_base(doc_id + 1, 2) AS id_bin,
           CAST(8 * strlen(text) AS BIGINT) AS text_bits,
           lower(hex(doc_id * 31 + 7)) AS derived_hex
    FROM documents WHERE doc_id < 500
    """,
)
def checksum_encoding_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksums and radix encodings with cross-engine twins: md5 and
    sha2-256 content digests (the fingerprints every dedup/integrity
    pipeline keys on — the dedup family already USES md5; this row
    grades the digest surface itself), hex encoding, and base-2
    rendering via `conv` graded against DuckDB's `to_base`. bit_length
    twins against 8×strlen (ASCII corpus). Spark's xxhash64/crc32 exist
    but have no DuckDB twin — they are deliberately absent here and
    covered by the repo's own hash-expression builders instead.

    Scale shape: scan-side digest computation, zero shuffles — digest
    cost is memory-bandwidth-bound and embarrassingly parallel, the
    same profile as the text suite."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2("text", 256).alias("text_sha256"),
        F.upper(F.hex("doc_id")).alias("id_hex"),
        F.expr("conv(CAST(doc_id + 1 AS STRING), 10, 2)").alias("id_bin"),
        F.bit_length("text").cast("long").alias("text_bits"),
        F.lower(F.hex(F.col("doc_id") * 31 + 7)).alias("derived_hex"),
    )


# ===================================================================
# New round-8 staging: queries built this round, graduating round 9.
# ===================================================================


@query(
    "video_mjpeg_frame_extract",
    oracle="""
    WITH docs AS (
        SELECT doc_id,
               doc_id % 3 + 1 AS bw,
               doc_id % 2 + 1 AS bh,
               doc_id % 4 + 2 AS nf
        FROM documents WHERE doc_id < 150
    ),
    frames AS (
        SELECT doc_id, bw, bh, g.f
        FROM docs, LATERAL (
            SELECT unnest(generate_series(0, nf - 1)) AS f) g
    ),
    tiles AS (
        SELECT doc_id, f, bw, bh,
               64 * ((doc_id + 11 * bx.x + 29 * by.y + 37 * f) % 256)
                   AS tsum
        FROM frames,
             LATERAL (SELECT unnest(generate_series(0, bw - 1)) AS x) bx,
             LATERAL (SELECT unnest(generate_series(0, bh - 1)) AS y) by
    )
    SELECT doc_id,
           CAST(f AS INTEGER) AS frame_idx,
           CAST(bw * 8 AS INTEGER) AS width,
           CAST(bh * 8 AS INTEGER) AS height,
           CAST(sum(tsum) AS BIGINT) AS pixel_sum
    FROM tiles
    GROUP BY doc_id, f, bw, bh
    """,
)
def video_mjpeg_frame_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO as a real modality (closes the last honest multimodal gap,
    VERDICT r07 item 8): deterministic MJPEG-in-AVI fixtures are built
    per document — each frame a genuine baseline JPEG, wrapped in a real
    RIFF/AVI container (hdrl/movi/idx1, llm/video.py) — then FULLY
    decoded back: container chunk walk with header/index cross-checks,
    then Huffman+IDCT JPEG decode of every frame, one output row per
    frame. Block-constant 8x8 tiles with DC-exact quant round-trip
    exactly through the lossy path, so the oracle recomputes every
    frame's pixel_sum analytically from doc_id alone — the decoder
    cannot shortcut: a single wrong DCT coefficient or a skipped frame
    breaks the hash.

    Scale shape: the video blobs are synthesized AND decoded inside one
    mapInPandas stage — bytes never shuffle, never visit the driver;
    only the fixed-width per-frame stats rows leave Python. At 100 TB
    this is the canonical frame-extraction topology: row-grain
    parallelism across videos, codec work pinned to executors, with
    the downstream relational aggregate JVM-side."""
    from sparkksqldbbenchmark_spark.llm.video import (
        synth_frame_stats_plan,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 150
    )
    # r18: fused synth→decode (one mapInPandas, blobs never cross the
    # Python boundary) + row-grain repartition of the ids so the
    # pure-Python codec work uses every core (llm/video.py)
    return synth_frame_stats_plan(docs, every_n=1)


# ------------------------------------------- SQL session variables --


@query(
    "sql_scripting_variables",
    oracle="""
    WITH t AS (SELECT max(o_orderkey) * 6 // 10 AS cut FROM orders)
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS price_cents
    FROM orders, t WHERE o_orderkey <= t.cut
    GROUP BY 1
    """,
)
def sql_scripting_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables + EXECUTE IMMEDIATE (Spark 4 SQL
    scripting): DECLARE OR REPLACE VARIABLE, SET VARIABLE from a scalar
    subquery (the data-driven cut every parameterized report computes
    first), then EXECUTE IMMEDIATE running dynamic SQL with a ?
    placeholder bound from the variable via USING — the engine-native
    form of the prepare/bind loop every BI layer implements ad hoc. The
    oracle inlines the same cut as a CTE.

    Scale shape: the variable holds ONE scalar on the driver; the
    parameterized query plans identically to its static twin (same
    scan + bounded-key hash agg — binding happens before optimization,
    so pushdown sees a literal)."""
    _view(spark, sf_dir, "orders")
    spark.sql("DECLARE OR REPLACE VARIABLE v_cut BIGINT DEFAULT 0")
    spark.sql(
        "SET VARIABLE v_cut = (SELECT max(o_orderkey) * 6 DIV 10"
        " FROM orders)"
    )
    return spark.sql(
        """EXECUTE IMMEDIATE
           'SELECT o_orderpriority,
                   count(*) AS n_orders,
                   CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS price_cents
            FROM orders WHERE o_orderkey <= ? GROUP BY 1'
           USING v_cut"""
    )


# ----------------------------------- IDENTIFIER + parameterized sql --


@query(
    "identifier_parameterized_query",
    oracle="""
    SELECT c_mktsegment AS segment,
           count(*) AS n_customers,
           CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS balance_cents
    FROM customer
    GROUP BY 1
    """,
)
def identifier_parameterized_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The IDENTIFIER() clause with named query parameters
    (spark.sql(sql, args=...)): table AND column names arrive as BOUND
    PARAMETERS, not string-spliced SQL — the injection-safe form of
    dynamic reporting over a table/column chosen at runtime (the
    IDENTIFIER contract rejects anything that is not a valid
    identifier, unlike f-string templating). The oracle is the static
    query the binding resolves to.

    Scale shape: identical plan to the static query — IDENTIFIER
    resolution happens at analysis time, so column pruning and
    pushdown see ordinary references."""
    _view(spark, sf_dir, "customer")
    return spark.sql(
        """SELECT IDENTIFIER(:seg_col) AS segment,
                  count(*) AS n_customers,
                  CAST(sum(CAST(floor(IDENTIFIER(:bal_col) * 100)
                                AS BIGINT)) AS BIGINT) AS balance_cents
           FROM IDENTIFIER(:tbl)
           GROUP BY 1""",
        args={
            "tbl": "customer",
            "seg_col": "c_mktsegment",
            "bal_col": "c_acctbal",
        },
    )


# --------------------------------------------------- SQL pipe syntax --


@query(
    "pipe_syntax_suite",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS total_cents,
           CAST(max(l_quantity) AS BIGINT) AS max_qty
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-06-01'
    GROUP BY 1, 2
    HAVING count(*) > 10
    """,
)
def pipe_syntax_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>`): the linear FROM-first query form
    — WHERE, EXTEND (computed column), AGGREGATE ... GROUP BY, and a
    post-aggregation WHERE standing in for HAVING — each stage reading
    top-to-bottom in dataflow order. The oracle is the equivalent
    nested standard-SQL form; value-identical results pin that the pipe
    parser lowers to the same plan, not a variant semantics.

    Scale shape: pure syntax — Catalyst sees the same logical plan as
    the standard form (scan-side shipdate pushdown, bounded-key hash
    agg, one exchange)."""
    _view(spark, sf_dir, "lineitem")
    return spark.sql(
        """FROM lineitem
           |> WHERE l_shipdate >= DATE '1995-06-01'
           |> EXTEND CAST(floor(l_extendedprice * 100) AS BIGINT)
                  AS price_cents
           |> AGGREGATE count(*) AS n_items,
                  CAST(sum(price_cents) AS BIGINT) AS total_cents,
                  CAST(max(l_quantity) AS BIGINT) AS max_qty
                  GROUP BY l_returnflag, l_linestatus
           |> WHERE n_items > 10
           |> SELECT l_returnflag, l_linestatus, n_items, total_cents,
                  max_qty"""
    )


# ------------------------------------------- SQL table function (UDTF) --


@query(
    "sql_table_function_lateral",
    oracle="""
    SELECT c.c_custkey,
           o.o_orderkey,
           CAST(floor(o.o_totalprice * 100) AS BIGINT) AS price_cents
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey < 250
      AND floor(o.o_totalprice * 100) >= 10000000
    """,
)
def sql_table_function_lateral(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A SQL-defined TABLE function (CREATE TEMPORARY FUNCTION ...
    RETURNS TABLE ... RETURN SELECT — the declarative sibling of the
    Python UDTF row), invoked per-row via LATERAL correlation: each
    customer's row binds the function's arguments. The oracle is the
    join the decorrelation must collapse to — value-identical output
    pins that the function-call semantics are exactly inline-expansion,
    not a row-at-a-time re-execution.

    Scale shape: Catalyst inlines the SQL function body and
    decorrelates the LATERAL into an ordinary equi-join (customer keys
    shuffled against orders, dim side broadcastable) — the whole point
    of SQL-defined functions over external UDTFs at 100 TB: the body
    stays inside the optimizer."""
    _view(spark, sf_dir, "customer", "orders")
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION orders_over(
               cust BIGINT, cut_cents BIGINT)
           RETURNS TABLE (o_orderkey BIGINT, price_cents BIGINT)
           RETURN SELECT o_orderkey,
                         CAST(floor(o_totalprice * 100) AS BIGINT)
                  FROM orders
                  WHERE o_custkey = cust
                    AND floor(o_totalprice * 100) >= cut_cents"""
    )
    return spark.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.price_cents
           FROM customer c, LATERAL orders_over(c.c_custkey, 10000000) t
           WHERE c.c_custkey < 250"""
    )


# --------------------------------------------- JSON codec round-trip --


@query(
    "json_roundtrip_suite",
    oracle="""
    SELECT event_id,
           CAST(json_extract(j, '$.uid') AS BIGINT) AS uid_back,
           json_extract_string(j, '$.et') AS type_back,
           CAST(json_extract(j, '$.cents') AS BIGINT) AS cents_back,
           CAST(json_array_length(json_extract(j, '$.tags'))
                AS INTEGER) AS n_tags,
           CAST(json_extract(j, '$.tags[0]') AS BIGINT) AS first_tag
    FROM (
        SELECT event_id,
               to_json({
                   uid: user_id,
                   et: event_type,
                   cents: CAST(floor(value * 100) AS BIGINT),
                   tags: [user_id % 7, user_id % 3]
               }) AS j
        FROM events WHERE event_id < 4000
    )
    """,
)
def json_roundtrip_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON codec round-trip — the third embedded-codec twin (XML and
    CSV line codecs are staged siblings): pack typed columns into a
    struct, serialize with to_json, then recover every field through
    from_json with a schema obtained from schema_of_json on a sampled
    literal (the infer-once-parse-everywhere pattern real pipelines
    use for semi-structured columns). Values — not the JSON text —
    are compared: each engine's serializer may differ in key order or
    whitespace, but round-tripped VALUES must be identical; the oracle
    re-extracts with DuckDB's JSON path functions.

    Scale shape: all JVM expression codegen (to_json/from_json are
    Jackson under codegen, no Python), zero shuffles — scan-side
    transform of a bounded slice."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") < 4000
    )
    packed = ev.select(
        "event_id",
        F.to_json(
            F.struct(
                F.col("user_id").alias("uid"),
                F.col("event_type").alias("et"),
                F.floor(F.col("value") * 100).cast("long").alias("cents"),
                F.array(
                    F.col("user_id") % 7, F.col("user_id") % 3
                ).alias("tags"),
            )
        ).alias("j"),
    )
    sample = (
        '{"uid": 1, "et": "x", "cents": 1, "tags": [1, 2]}'
    )
    schema = F.schema_of_json(F.lit(sample))
    back = packed.select(
        "event_id", F.from_json("j", schema).alias("s")
    )
    return back.select(
        "event_id",
        F.col("s.uid").alias("uid_back"),
        F.col("s.et").alias("type_back"),
        F.col("s.cents").alias("cents_back"),
        F.size("s.tags").alias("n_tags"),
        F.element_at("s.tags", 1).alias("first_tag"),
    )


# ------------------------------------- n-gram LM familiarity scoring --


@query(
    "ngram_lm_familiarity",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
        FROM documents
    ), big AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS bg
        FROM tok WHERE len(t) >= 2
    ), train AS (
        SELECT bg, count(*) AS corpus_n FROM big
        WHERE doc_id % 10 != 0 GROUP BY 1
    ), score AS (
        SELECT doc_id, bg FROM big WHERE doc_id % 10 = 0
    )
    SELECT s.doc_id,
           count(*) AS n_bigrams,
           count(t.corpus_n) AS n_known,
           CAST(sum(coalesce(t.corpus_n, 0)) AS BIGINT) AS familiarity
    FROM score s LEFT JOIN train t USING (bg)
    GROUP BY 1
    """,
)
def ngram_lm_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram language-model quality scoring, the two-phase train/score
    topology (the relational core of KenLM-style corpus filtering):
    TRAIN — count every token bigram over the 90% training slice (one
    shuffle keyed on bigram); SCORE — join each held-out document's
    bigrams against the trained counts and aggregate per document
    (n_bigrams, n_known = bigrams seen in training, familiarity = total
    training occurrences). Low familiarity flags out-of-domain or
    garbage text — the quality signal perplexity provides, kept in
    EXACT integers (no log/float: libm log is not cross-engine
    reproducible, and monotone transforms preserve the ranking a
    filter actually consumes).

    Scale shape: two shuffles on the bigram key (train aggregate, score
    join — both uniform content keys), one on doc_id for the final
    fold. The trained model stays distributed (never collected); at
    100 TB the count table is orders of magnitude smaller than the
    corpus and AQE can still broadcast it when the training slice is
    narrow."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '\\\\S+', 0)").alias("t"),
    ).where(F.expr("size(t) >= 2"))
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat_ws(' ', element_at(t, i),"
                " element_at(t, i + 1)))"
            )
        ).alias("bg"),
    )
    train = (
        bigrams.where(F.col("doc_id") % 10 != 0)
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("corpus_n"))
    )
    score = bigrams.where(F.col("doc_id") % 10 == 0)
    return (
        score.join(train, "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count("corpus_n").alias("n_known"),
            F.sum(F.coalesce("corpus_n", F.lit(0)))
            .cast("long")
            .alias("familiarity"),
        )
    )


# ------------------------------------ exact-substring span detection --

_KG = 8  # tokens per k-gram window


@query(
    "exact_substring_spans",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
        FROM documents
    ), pos AS (
        SELECT doc_id, g.i AS pos,
               (('0x' || substring(md5(
                    array_to_string(t[g.i:g.i + {_KG - 1}], ' ')
                ), 1, 15))::BIGINT) AS h
        FROM tok, LATERAL (
            SELECT unnest(range(1, len(t) - {_KG - 2})) AS i) g
        WHERE len(t) >= {_KG}
    ), freq AS (
        SELECT h, count(DISTINCT doc_id) AS nd FROM pos GROUP BY 1
    ), shared AS (
        SELECT p.doc_id, p.pos FROM pos p
        JOIN freq f USING (h) WHERE f.nd >= 2
    ), isl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (
                   PARTITION BY doc_id ORDER BY pos) AS grp
        FROM shared
    ), spans AS (
        SELECT doc_id, grp, count(*) AS span_kg FROM isl GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(span_kg) AS BIGINT) AS n_shared_pos,
           count(*) AS n_spans,
           CAST(max(span_kg) + {_KG - 1} AS BIGINT)
               AS longest_span_tokens
    FROM spans GROUP BY 1
    """,
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication detection at TOKEN-POSITION grain —
    the span-level operator behind exact-substring training-data dedup
    (find every maximal run of >= 8 consecutive tokens that also
    appears verbatim in another document), one level finer than the
    chunk/doc-grain rows (passage_dup_stats, dedup_containment): slide
    an 8-token window over each document, hash each window (md5 60-bit,
    the repo's cross-engine hash), mark positions whose window occurs
    in >= 2 distinct documents, and merge CONSECUTIVE shared positions
    into maximal spans with the gaps-and-islands construction
    (pos - row_number() is constant within a run). Per document:
    total shared windows, span count, and the longest shared span in
    tokens.

    Scale shape: one shuffle on the window hash for the document-
    frequency aggregate, one hash join back (same key — the exchange
    is reusable), one doc_id-keyed window+fold. Never materializes doc
    pairs (the n^2 trap); the hash join is content-keyed and uniform.
    At 100 TB this is the standard suffix-free approximation of
    Lee-et-al exact-substring dedup, at the window resolution the
    downstream span-excision actually uses. Core in
    llm/substring.shared_span_stats (corner cases pinned by
    tests/test_substring.py against a brute-force reference)."""
    from sparkksqldbbenchmark_spark.llm.substring import shared_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return shared_span_stats(docs, "text", "doc_id", k=_KG)


# ---------------------------------------- state-store reader (ops) --


@query(
    "state_store_reader_audit",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum
    FROM events
    GROUP BY 1
    """,
)
def state_store_reader_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The State Data Source reader (Spark 4 `format("statestore")`) —
    the ops surface that opens a streaming checkpoint's STATE STORE as
    a DataFrame: run an availableNow stateful aggregation to a
    checkpoint, then read the persisted state back OFFLINE and prove it
    equals aggregating the source directly. This is how production
    debugging inspects state without touching the running query
    (skew hunting, corruption triage, migration audits); the
    `state-metadata` twin is asserted in-query (operator name and
    batch range).

    Scale shape: the state read is partition-parallel over the store's
    own layout (one task per state partition, no shuffle to read);
    the graded aggregate fold is keyed on the bounded event_type."""
    import tempfile
    import uuid

    from sparkksqldbbenchmark_spark.plans.streaming_queries import (
        _read_events_stream,
    )

    ckpt = tempfile.mkdtemp(prefix="sstate_")
    ev = _read_events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
            "cents_sum"
        ),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(f"ssr_{uuid.uuid4().hex[:8]}")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    await_or_stop(q, 120, f"stream {q.name}")

    md = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(md) == 1 and md[0].operatorName == "stateStoreSave", md
    assert md[0].maxBatchId >= 0

    state = spark.read.format("statestore").load(ckpt)
    # the state VALUE struct carries the aggregation BUFFER's physical
    # field names (`count`, `sum`), not the query's output aliases —
    # exactly the kind of internal detail this ops surface exposes
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
        F.col("value.sum").alias("cents_sum"),
    )


# ------------------------------ dynamic partition overwrite backfill --


@query(
    "partition_overwrite_backfill",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN event_type = 'click'
                         THEN CAST(floor(value * 100) AS BIGINT) * 2
                         ELSE CAST(floor(value * 100) AS BIGINT) END)
                AS BIGINT) AS cents_sum
    FROM events
    GROUP BY 1
    """,
)
def partition_overwrite_backfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite — THE backfill primitive at 100 TB:
    rewrite exactly the partitions present in the incoming frame and
    leave every other partition's files untouched (static mode would
    truncate the whole table). A hive-partitioned copy of events is
    laid down, then ONE partition (event_type='click') is backfilled
    with corrected values (cents doubled) under
    partitionOverwriteMode=dynamic; the graded read proves the
    corrected partition AND the untouched ones — and an in-query
    assertion pins that the non-target partition directories kept
    their original files (inode-level proof only the 'click' partition
    was rewritten).

    Scale shape: the overwrite plans as a write of the new partition's
    rows only — data movement proportional to the backfill, not the
    table; reads after the swap prune on the partition column as
    before."""
    import os
    import tempfile

    target = tempfile.mkdtemp(prefix="dynpart_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    ev.write.mode("overwrite").partitionBy("event_type").parquet(target)

    def files_of(part: str) -> set:
        d = os.path.join(target, f"event_type={part}")
        return {
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_view = files_of("view")
    fixed = ev.where(F.col("event_type") == "click").withColumn(
        "cents", F.col("cents") * 2
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        fixed.write.mode("overwrite").partitionBy("event_type").parquet(
            target
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert files_of("view") == before_view, (
        "dynamic overwrite touched a partition outside the backfill"
    )
    back = spark.read.parquet(target)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("long").alias("cents_sum"),
    )


# ---------------------------------------- parquet schema evolution --


@query(
    "schema_evolution_mergeschema",
    oracle="""
    WITH unioned AS (
        SELECT event_id, user_id, NULL AS cents
        FROM events WHERE event_id % 2 = 0
        UNION ALL
        SELECT event_id, NULL AS user_id,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_id % 2 = 1
    )
    SELECT count(*) AS n_rows,
           count(user_id) AS n_with_user,
           count(cents) AS n_with_cents,
           CAST(sum(coalesce(user_id, 0)) AS BIGINT) AS user_sum,
           CAST(sum(coalesce(cents, 0)) AS BIGINT) AS cents_sum
    FROM unioned
    """,
)
def schema_evolution_mergeschema(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parquet schema evolution via mergeSchema — the read-side contract
    every long-lived 100 TB table depends on: an old writer emitted
    (event_id, user_id), a newer writer adds a column and drops another
    (event_id, cents); a single mergeSchema read must present the
    UNIFIED schema with NULLs where a file predates a column. The
    oracle replays the union with explicit NULL projections. In-query
    assertion: the merged schema is exactly the 3-column union, and a
    non-merged read of either subdir sees only its own columns.

    Scale shape: schema merge happens at planning time over file
    footers (the driver reads footers, not data); the scan itself
    stays columnar with per-file projection — files missing a column
    produce NULL vectors without any rewrite. The alternative the
    operator replaces — rewriting history to the new schema — is a
    full-table write."""
    import os
    import tempfile

    base = tempfile.mkdtemp(prefix="schevo_")
    ev = load_table(spark, sf_dir, "events")
    ev.where(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id"
    ).write.mode("overwrite").parquet(os.path.join(base, "v1"))
    ev.where(F.col("event_id") % 2 == 1).select(
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    ).write.mode("overwrite").parquet(os.path.join(base, "v2"))

    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "v1"), os.path.join(base, "v2")
    )
    assert sorted(merged.columns) == ["cents", "event_id", "user_id"]
    v1_only = spark.read.parquet(os.path.join(base, "v1"))
    assert sorted(v1_only.columns) == ["event_id", "user_id"]

    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("user_id").alias("n_with_user"),
        F.count("cents").alias("n_with_cents"),
        F.sum(F.coalesce("user_id", F.lit(0))).cast("long").alias(
            "user_sum"
        ),
        F.sum(F.coalesce("cents", F.lit(0))).cast("long").alias(
            "cents_sum"
        ),
    )


# ------------------------------------------------- ORC file format --


@query(
    "orc_roundtrip_scan",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS price_cents,
           CAST(min(o_orderkey) AS BIGINT) AS min_key
    FROM orders WHERE o_orderkey < 5000
    GROUP BY 1
    """,
)
def orc_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as a second columnar source/sink format (S-row sibling of
    the parquet paths): write a typed slice as ORC, read it back, and
    grade the aggregate against the parquet-sourced oracle — proving
    the round trip preserves every value bit-for-bit across the format
    boundary. In-query assertion: the ORC scan's plan carries the
    pushed filter (ORC predicate pushdown works like parquet's).

    Scale shape: ORC keeps the same columnar virtues (stripe-level
    min/max skipping, dictionary encoding, vectorized read), so the
    scan plan is interchangeable with parquet — which is the point:
    an engine claiming 100 TB generality cannot be format-locked."""
    import tempfile

    d = tempfile.mkdtemp(prefix="orc_")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < 5000
    ).select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    o.write.mode("overwrite").orc(d)
    back = spark.read.orc(d).where(F.col("o_orderkey") < 5000)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderkey" in plan, plan
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").cast("long").alias("price_cents"),
        F.min("o_orderkey").cast("long").alias("min_key"),
    )


# ------------------------------ foreachBatch exactly-once file sink --


@query(
    "streaming_foreachbatch_exactly_once",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum
    FROM events
    GROUP BY 1
    """,
)
def streaming_foreachbatch_exactly_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """foreachBatch with an IDEMPOTENT batch-addressed sink — the
    standard exactly-once recipe over an at-least-once channel: each
    micro-batch lands at a path keyed by its batchId with overwrite
    semantics, so REDELIVERY of a batch (restart replaying the last
    un-committed batch — simulated in-query by re-writing batch 0 over
    itself) changes nothing. The graded read unions every batch
    directory and must equal aggregating the source directly: no batch
    lost, no batch doubled — the T10 contract graded value-for-value
    instead of unit-tested.

    Scale shape: the sink is a plain distributed parquet write per
    batch (executor-parallel, no driver data); idempotence comes from
    the deterministic batch→path mapping, the same mechanism every
    lakehouse streaming writer (Delta/Iceberg commit-by-batch-id)
    formalizes. Fixture hygiene (round 17): the graded aggregate is
    materialized (a handful of per-type rows) so the batch/checkpoint
    dirs are disposable before return — previously the lazy read-back
    kept them pinned past the query's lifetime."""
    import os
    import shutil
    import tempfile
    import uuid

    from sparkksqldbbenchmark_spark.plans.streaming_queries import (
        _read_events_stream,
    )

    out = tempfile.mkdtemp(prefix="febsink_")
    ckpt = tempfile.mkdtemp(prefix="febckpt_")
    ckpt2 = tempfile.mkdtemp(prefix="febckpt2_")
    try:
        ev = _read_events_stream(spark, sf_dir).select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )

        def write_batch(df, batch_id: int) -> None:
            df.write.mode("overwrite").parquet(
                os.path.join(out, f"batch_id={batch_id}")
            )

        q = (
            ev.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(f"feb_{uuid.uuid4().hex[:8]}")
            .start()
        )
        await_or_stop(q, 120, f"stream {q.name}")

        batch_dirs = sorted(
            d for d in os.listdir(out) if d.startswith("batch_id=")
        )
        assert batch_dirs, "no batches written"

        # simulate at-least-once REDELIVERY: a second run with a LOST
        # checkpoint replays every batch from the deterministic source
        # through the same idempotent writer — each batch directory is
        # overwritten with identical content, so totals must not move
        # (the failure mode this pattern guards against is a plain
        # append sink, which would double every row here)
        q2 = (
            ev.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt2)
            .trigger(availableNow=True)
            .queryName(f"feb_{uuid.uuid4().hex[:8]}")
            .start()
        )
        await_or_stop(q2, 120, f"stream {q2.name}")
        assert sorted(
            d for d in os.listdir(out) if d.startswith("batch_id=")
        ) == batch_dirs, "redelivery changed the batch set"

        rows = (
            spark.read.parquet(
                *[os.path.join(out, d) for d in batch_dirs]
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("cents").cast("long").alias("cents_sum"),
            )
            .collect()
        )
    finally:
        for d in (out, ckpt, ckpt2):
            shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_type string, n_events bigint, cents_sum bigint"
    )


# ----------------------- custom Python STREAMING sink round-trip --


@query(
    "python_datasource_stream_sink_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum
    FROM events
    GROUP BY 1
    """,
)
def python_datasource_stream_sink_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A custom Python STREAMING sink (DataSourceStreamWriter,
    sources/pyds.py `JsonlStreamWriter`) — completes the Python
    DataSource V2 surface: batch source, batch sink, streaming source,
    and now the streaming WRITE contract Spark actually drives
    (per-batch executor writes → commit messages → driver
    commit(messages, batchId) publishing a _BATCH_{id}.json manifest).
    The graded claim is the exactly-once round trip: stream the events
    table (availableNow) through the custom sink, read back ONLY what
    the per-batch manifests name, and the aggregate must equal
    aggregating the source directly — every batch published once,
    nothing outside a manifest visible.

    Scale shape: executor-parallel writes (driver sees KB commit
    messages), one manifest write per micro-batch — the idempotent
    commit-by-batch-id protocol every lakehouse streaming writer
    formalizes, here expressed through the engine's own stream-writer
    API."""
    import glob
    import json
    import os
    import tempfile
    import uuid

    from sparkksqldbbenchmark_spark.plans.streaming_queries import (
        _read_events_stream,
    )
    from sparkksqldbbenchmark_spark.sources.pyds import (
        register_python_sources,
    )

    register_python_sources(spark)
    out = tempfile.mkdtemp(prefix="pystreamsink_")
    ckpt = tempfile.mkdtemp(prefix="pystreamckpt_")
    ev = _read_events_stream(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    q = (
        ev.writeStream.format("jsonl_pages")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .queryName(f"pss_{uuid.uuid4().hex[:8]}")
        .start()
    )
    await_or_stop(q, 120, f"stream {q.name}")

    manifests = sorted(glob.glob(os.path.join(out, "_BATCH_*.json")))
    assert manifests, "streaming sink published no batch manifests"
    files, total = [], 0
    for mp in manifests:
        with open(mp) as fh:
            m = json.load(fh)
        files += [os.path.join(out, f) for f in m["files"]]
        total += m["rows"]
    back = spark.read.json(files)
    assert back.count() == total
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("long").alias("cents_sum"),
    )


# --------------------------------------------- mapInArrow boundary --


@query(
    "mapinarrow_token_stats",
    oracle=r"""
    WITH per_doc AS (
        SELECT lang,
               len(text) AS n_chars,
               len(regexp_extract_all(text, '\S+')) AS n_tokens
        FROM documents WHERE doc_id < 2000
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_total
    FROM per_doc
    GROUP BY 1
    """,
)
def mapinarrow_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` — the RecordBatch-native Python boundary (one level
    below mapInPandas: no pandas conversion at all, pyarrow.compute
    kernels straight over Arrow buffers). Per-document character and
    whitespace-token counts are computed with vectorized Arrow kernels
    (utf8_length, count_substring_regex) and graded value-for-value
    against the relational oracle — an extension-surface row like the
    applyInPandas z-score: it grades the BOUNDARY, while production
    paths keep using JVM expressions for anything expressions can say.

    Scale shape: Arrow batches stream executor-side with zero
    row-at-a-time Python and zero pandas materialization — the
    cheapest possible Python hop when a C++-backed kernel (here
    pyarrow's RE2 regex) does the work; the downstream aggregate is a
    bounded-key JVM fold."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 2000
    ).select("doc_id", "lang", "text")

    def batches(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in it:
            tb = pa.table(batch)
            yield pa.record_batch(
                {
                    "lang": tb["lang"].combine_chunks(),
                    "n_chars": pc.cast(
                        pc.utf8_length(tb["text"].combine_chunks()),
                        pa.int64(),
                    ),
                    "n_tokens": pc.cast(
                        pc.count_substring_regex(
                            tb["text"].combine_chunks(), pattern=r"\S+"
                        ),
                        pa.int64(),
                    ),
                }
            )

    stats = docs.mapInArrow(
        batches, "lang string, n_chars long, n_tokens long"
    )
    return stats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
    )


# ------------------------------------------- AQE skew-join splitting --


@query(
    "aqe_skew_join_split",
    oracle="""
    WITH l AS (
        SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS k,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ), r AS (
        SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS k,
               event_id AS rid
        FROM events WHERE event_id % 97 = 0
    )
    SELECT CAST(l.k % 8 AS BIGINT) AS bucket,
           count(*) AS n_pairs,
           CAST(sum(l.cents) AS BIGINT) AS cents_sum,
           CAST(sum(r.rid) AS BIGINT) AS rid_sum,
           CAST(count(*) * 64 AS BIGINT) AS pad_bytes
    FROM l JOIN r ON l.k = r.k
    GROUP BY 1
    """,
)
def aqe_skew_join_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join splitting, plan-asserted — the FIFTH runtime
    re-planning lever graded as a query (after DPP, the Bloom join,
    runtime coalescing, and the salting twins): half of all events are
    folded onto ONE join key (the planted hot key every real workload
    has: the null-ish user, the default tenant), and AQE must detect
    the oversized shuffle partition at runtime and SPLIT it across
    tasks (SortMergeJoin(isSkewJoin=true), hot-side sub-ranges joined
    against a replicated right side) — the adaptive alternative to the
    hand-salting operators in operators/skew.py, with zero query
    rewrite. Asserted on the post-execution adaptive plan via a tree
    walk reading the join's isSkewJoin flag (the string form does not
    render it), inside a save/restore conf window that scales the
    detection thresholds to the test corpus (256 MB defaults are tuned
    for clusters; the RULE is identical). An incompressible
    deterministic payload (sha2 of event_id) rides the shuffle so
    byte-level skew exists as it would at 100 TB — and is consumed in
    the output (pad_bytes), or column pruning would strip it and with
    it the skew (a measured staging lesson: repeated-constant pads
    compress to nothing and defeat detection).

    Second staging lesson, kept for the 100 TB note: AQE splits a
    skewed partition at MAP-OUTPUT granularity (sub-ranges of mapper
    outputs), so a hot partition fed by a SINGLE mapper — exactly what
    a one-file test corpus produces — cannot be split and is not even
    counted skewed. The upstream repartition(16) below gives the join
    exchange multiple mappers, the shape any real cluster has
    thousands of; it changes plan topology only, never values.

    The oracle is the plain join — splitting moves TASKS, never
    answers."""
    ev = load_table(spark, sf_dir, "events")
    k = F.when(F.col("user_id") % 3 == 0, 0).otherwise(F.col("user_id"))
    left = ev.repartition(16).select(
        k.alias("k"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.sha2(F.col("event_id").cast("string"), 256).alias("pad"),
    )
    right = ev.where(F.col("event_id") % 97 == 0).select(
        k.alias("k"), F.col("event_id").alias("rid")
    )
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "8kb",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8kb",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "3.0",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # skew is RELATIVE to the median post-shuffle partition: at 4
        # shuffle partitions the non-hot keys concentrate into 3 fat
        # partitions and the hot one is no longer 3x the median — pin
        # the width so the planted skew is detectable under any
        # harness session (32 = the engine/bench default)
        "spark.sql.shuffle.partitions": "32",
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
        out = (
            left.hint("merge")
            .join(right.hint("merge"), "k")
            .groupBy((F.col("k") % 8).alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum("cents").cast("long").alias("cents_sum"),
                F.sum("rid").cast("long").alias("rid_sum"),
                F.sum(F.length("pad")).cast("long").alias("pad_bytes"),
            )
        )
        rows = out.collect()

        def _find_skew(node) -> bool:
            name = node.getClass().getSimpleName()
            if "SortMergeJoin" in name and node.isSkewJoin():
                return True
            if "QueryStage" in name:
                return _find_skew(node.plan())
            return any(
                _find_skew(node.children().apply(i))
                for i in range(node.children().size())
            )

        adaptive = out._jdf.queryExecution().executedPlan()
        assert _find_skew(adaptive.executedPlan()), (
            "AQE did not split the skewed join partition"
        )
        return spark.createDataFrame(rows, out.schema)
    finally:
        for key, old in saved.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


# ------------------------------------------- in-memory columnar cache --


@query(
    "inmemory_cache_scan",
    oracle="""
    WITH sub AS (
        SELECT o_orderpriority,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders WHERE o_orderkey < 30000
    )
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents_sum,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM sub
    GROUP BY 1
    """,
)
def inmemory_cache_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The in-memory columnar cache (df.cache) as a graded operator:
    a projected slice is cached, materialized once, and the graded
    aggregate must then read from InMemoryTableScan — asserted on the
    plan — with values identical to the uncached oracle (the cache is
    a placement decision, never a semantic one). unpersist() in a
    finally block keeps the graded run from leaking executor memory
    into subsequent queries.

    Scale shape: the cache stores compressed columnar batches
    partition-local (no shuffle to build from an existing
    partitioning); at 100 TB caching is for REUSED intermediate frames
    (the iterative-algorithm working set — e.g. the k-means assignment
    frame in llm/similarity's IVF trainer), never a default — a
    one-pass query is cheaper re-scanned than double-materialized.
    Spilled blocks degrade to disk per StorageLevel MEMORY_AND_DISK,
    so the assertion holds at any size."""
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 30000)
        .select(
            "o_orderpriority",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias(
                "cents"
            ),
            "o_orderkey",
        )
    )
    cached = o.cache()
    try:
        cached.count()  # materialize the columnar batches
        out = cached.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("long").alias("cents_sum"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        )
        rows = out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, (
            "aggregate did not read from the in-memory cache:\n" + plan
        )
        return spark.createDataFrame(rows, out.schema)
    finally:
        cached.unpersist()


# ------------------------------- temperature-flattened mixture quotas --


@query(
    "temperature_mixture_quota",
    oracle="""
    WITH counts AS (
        SELECT source, count(*) AS c,
               CAST(floor(sqrt(count(*))) AS BIGINT) AS w
        FROM documents GROUP BY 1
    ), tot AS (
        SELECT sum(w) AS t, sum(10000 * w // (SELECT sum(w) FROM counts))
                   AS base_sum
        FROM counts
    ), quotas AS (
        SELECT source, c, w,
               10000 * w // t AS base_quota,
               10000 * w % t AS remainder,
               row_number() OVER (ORDER BY 10000 * w % t DESC, source)
                   AS rem_rank,
               10000 - base_sum AS r
        FROM counts, tot
    )
    SELECT source,
           CAST(c AS BIGINT) AS n_docs,
           CAST(w AS BIGINT) AS w_temp,
           CAST(base_quota + CASE WHEN rem_rank <= r THEN 1 ELSE 0 END
                AS BIGINT) AS final_quota
    FROM quotas
    """,
)
def temperature_mixture_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture quotas (alpha = 0.5): weight each
    source by floor(sqrt(count)) instead of its raw count before the
    largest-remainder apportionment — the standard alpha-sampling
    technique for multilingual/multi-domain training mixes, boosting
    minority sources relative to proportional sampling without going
    fully uniform. Exactness argument: IEEE-754 sqrt is CORRECTLY
    ROUNDED (unlike log/exp — the general alpha=p/q power is not
    cross-engine-safe, which is exactly why the graded form pins
    alpha = 0.5), so floor(sqrt(n)) is bit-identical in both engines
    and everything downstream is the integer apportionment machinery
    (operators/apportion.py) with its sum(quota) = budget guarantee.

    Scale shape: identical to mixture_quota_largest_remainder — one
    partial-aggregated count shuffle, then |sources|-row constant-size
    frames."""
    from sparkksqldbbenchmark_spark.operators.apportion import (
        largest_remainder_quotas,
    )

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    weights = counts.select(
        "source",
        "c",
        F.floor(F.sqrt(F.col("c"))).cast("long").alias("w_temp"),
    )
    quotas = largest_remainder_quotas(weights, "source", "w_temp", 10000)
    return (
        quotas.join(weights.select("source", "c"), "source")
        .select(
            "source",
            F.col("c").cast("long").alias("n_docs"),
            F.col("weight").alias("w_temp"),
            "final_quota",
        )
    )


# ---------------------------------------- pandas API on Spark --


@query(
    "pandas_api_on_spark_agg",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM documents
    GROUP BY 1
    """,
)
def pandas_api_on_spark_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas API on Spark (`pyspark.pandas`) graded value-for-value:
    the same groupby-aggregate written as idiomatic pandas
    (`psdf.groupby("lang").agg(...)`) must equal the relational oracle —
    the migration surface that lets a pandas codebase (like the
    reference's price-prediction notebook) run distributed without a
    rewrite. The aggregation executes on the Spark backend (a plain
    hash aggregate — no driver materialization; `to_spark()` hands the
    lazy frame back to the engine).

    Scale shape: identical plan to the DataFrame form — pandas-on-Spark
    lowers groupby/agg to Catalyst; the distributed-sequence index cost
    is avoided entirely because the aggregate never materializes an
    index."""
    import pyspark.pandas as ps  # noqa: F401 — registers the API

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    psdf = docs.pandas_api()
    out = psdf.groupby("lang").agg(
        n_docs=("doc_id", "count"),
        chars_total=("n_chars", "sum"),
        first_doc=("doc_id", "min"),
    )
    return (
        out.reset_index()
        .to_spark()
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("chars_total").cast("long").alias("chars_total"),
            F.col("first_doc").cast("long").alias("first_doc"),
        )
    )


# ------------------------------------------------- stat crosstab --


@query(
    "stat_crosstab_matrix",
    oracle="""
    SELECT event_type AS event_type_bucket,
           CAST(sum(CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS "0",
           CAST(sum(CASE WHEN user_id % 5 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS "1",
           CAST(sum(CASE WHEN user_id % 5 = 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS "2",
           CAST(sum(CASE WHEN user_id % 5 = 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS "3",
           CAST(sum(CASE WHEN user_id % 5 = 4 THEN 1 ELSE 0 END)
                AS BIGINT) AS "4"
    FROM events
    GROUP BY 1
    """,
)
def stat_crosstab_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrameStatFunctions.crosstab — the exact contingency table
    (pair frequency matrix) as one reshaped frame, graded against the
    defining CASE-pivot. Crosstab is the two-variable audit every
    dataset card carries (label × source, type × shard); Spark computes
    it with one pair-count aggregate and a driver-side reshape of the
    BOUNDED distinct-pair set (documented contract: both columns'
    cardinalities must be small — here 5 types x 5 buckets).

    Scale shape: one partial-aggregated count over (type, bucket) —
     25 groups; the reshape touches only the group frame, never data
    rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 5).alias("bucket")
    )
    ct = ev.stat.crosstab("event_type", "bucket")
    return ct.select(
        "event_type_bucket",
        *[F.col(f"`{i}`").cast("long").alias(str(i)) for i in range(5)],
    )


# ---------------------------------------------- Luhn / PII checksums --


def _luhn_sum_sql(s: str) -> str:
    """Unrolled Luhn mod-10 sum of a 16-digit string column expression —
    IDENTICAL SQL text for Spark and DuckDB (substring + CAST + CASE),
    so the oracle recomputes the checksum from its definition while
    Spark's side uses the builtin. Digits at odd distance from the
    check digit double (folded: 2d - 9 when 2d > 9)."""
    terms = []
    for i in range(1, 17):
        d = f"CAST(substring({s}, {i}, 1) AS INT)"
        if (16 - i) % 2 == 1:  # doubled positions
            terms.append(
                f"(CASE WHEN {d} > 4 THEN 2 * {d} - 9 ELSE 2 * {d} END)"
            )
        else:
            terms.append(d)
    return "(" + " + ".join(terms) + ")"


_CARD = (
    "lpad(CAST(event_id * 7919 % 1000000000000000 AS STRING), 15, '0')"
)


@query(
    "luhn_pii_check",
    oracle=f"""
    WITH base AS (
        SELECT event_id, {_CARD} AS payload FROM events
    ), withchk AS (
        SELECT event_id,
               payload || CAST(
                   CASE WHEN event_id % 2 = 0
                        THEN (10 - {_luhn_sum_sql("payload || '0'")}
                              % 10) % 10
                        ELSE ((10 - {_luhn_sum_sql("payload || '0'")}
                               % 10) % 10 + 1) % 10
                   END AS STRING) AS card
        FROM base
    )
    SELECT CAST(event_id % 10 AS BIGINT) AS bucket,
           count(*) AS n_cards,
           CAST(sum(CASE WHEN {_luhn_sum_sql("card")} % 10 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
    FROM withchk
    GROUP BY 1
    """,
)
def luhn_pii_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`luhn_check` (Spark 3.5) — the mod-10 checksum that separates
    plausible payment-card numbers from random digit strings, which is
    what makes a PII scrubber PRECISE (llm/pii.py's regex finds
    16-digit runs; Luhn validation keeps invoice/tracking numbers out
    of the redaction): deterministic 16-digit fixtures are built so
    exactly the even event_ids carry a correct check digit, Spark
    validates with the BUILTIN, and the DuckDB oracle recomputes the
    checksum from its unrolled definition — builtin ≡ definition, per
    value. (The Spark side computes the check digit with the same
    shared SQL text the oracle uses; only the final validation uses
    luhn_check.)

    Scale shape: scan-side codegen arithmetic, one bounded-key
    aggregate — shuffle-free until the 10-row fold."""
    _view(spark, sf_dir, "events")
    payload_chk = _luhn_sum_sql("payload || '0'")
    chk = f"(10 - {payload_chk} % 10) % 10"
    return spark.sql(
        f"""WITH base AS (
            SELECT event_id, {_CARD} AS payload FROM events
        ), withchk AS (
            SELECT event_id,
                   payload || CAST(
                       CASE WHEN event_id % 2 = 0 THEN {chk}
                            ELSE ({chk} + 1) % 10
                       END AS STRING) AS card
            FROM withchk_src
        )
        SELECT CAST(event_id % 10 AS BIGINT) AS bucket,
               count(*) AS n_cards,
               CAST(sum(CASE WHEN luhn_check(card) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_valid
        FROM withchk
        GROUP BY 1""".replace("withchk_src", "base")
    )


# ------------------------------------------------- array mutations --


@query(
    "array_mutation_suite",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ')[1:4] AS l
        FROM documents WHERE doc_id < 300
    )
    SELECT doc_id,
           coalesce(array_to_string(l[1:1] || ['INS'] || l[2:], '|'), '')
               AS inserted,
           coalesce(array_to_string(list_append(l, 'END'), '|'), '')
               AS appended,
           coalesce(array_to_string(list_prepend('START', l), '|'), '')
               AS prepended,
           coalesce(array_to_string(
               list_filter(l, x -> x != l[1]), '|'), '') AS removed,
           coalesce(array_to_string(
               list_filter(list_transform(l, x -> nullif(x, l[2])),
                           x -> x IS NOT NULL), '|'), '') AS compacted
    FROM t
    """,
)
def array_mutation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array mutation breadth (Spark 3.4/3.5 additions): array_insert
    at a position, array_append / array_prepend, array_remove (all
    occurrences of a value), and array_compact (NULL removal) — each
    graded against its defining DuckDB list-algebra construction
    (insert = slice ++ singleton ++ rest; remove = filter-not-equal on
    a NULL-free array; compact = filter-not-null after a nullif
    transform plants the NULLs). These are the building blocks of
    array-typed feature engineering (token-list edits, tag-set
    maintenance) that would otherwise fall to explode/re-collect — a
    shuffle — or a Python UDF.

    Every mutated array is serialized pipe-joined at the query boundary
    WITHOUT sorting — mutation semantics define element ORDER, so the
    joined string grades position-exactly (raw array columns are not a
    result-contract type; the r04/r08 comparator lesson, and the first
    catch of the round-9 container-type gate).

    Scale shape: pure scan-side codegen over the array values, zero
    shuffles; the doc_id slice bounds graded output size only."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 300
    )
    t = docs.select(
        "doc_id", F.expr("slice(split(text, ' '), 1, 4)").alias("l")
    )
    return t.select(
        "doc_id",
        F.array_join(F.expr("array_insert(l, 2, 'INS')"), "|").alias(
            "inserted"
        ),
        F.array_join(F.expr("array_append(l, 'END')"), "|").alias(
            "appended"
        ),
        F.array_join(F.expr("array_prepend(l, 'START')"), "|").alias(
            "prepended"
        ),
        F.array_join(
            F.expr("array_remove(l, element_at(l, 1))"), "|"
        ).alias("removed"),
        F.array_join(
            F.expr(
                "array_compact(transform(l, x -> nullif(x, element_at(l, 2))))"
            ),
            "|",
        ).alias("compacted"),
    )


# ----------------------------------------------- try_* family, round 2 --


@query(
    "try_function_suite2",
    oracle="""
    SELECT event_id,
           TRY_CAST(payload AS INTEGER) AS cast_back,
           (string_split(event_type, ''))[12] AS oob_char,
           CAST(try_strptime(payload, '%Y-%m-%d') AS TIMESTAMP)
               AS bad_ts,
           CASE WHEN user_id % 7 = 0 THEN NULL
                ELSE event_id // (user_id % 7) END AS safe_div
    FROM (
        SELECT event_id, user_id, event_type,
               CASE WHEN event_id % 3 = 0
                    THEN CAST(event_id AS VARCHAR)
                    ELSE event_type || CAST(event_id AS VARCHAR)
               END AS payload
        FROM events WHERE event_id < 5000
    )
    """,
)
def try_function_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The try_* error-safe family, round two (round one graded
    try_add/subtract/multiply/divide arithmetic): try_cast on mixed
    parseable/garbage strings, try_element_at past the end of an array,
    try_to_timestamp on non-date text, and try_divide by a sometimes-
    zero denominator — every failure becomes NULL instead of a job
    abort, the contract that makes ANSI mode deployable over dirty
    data (fail-fast arithmetic for logic errors, try_* at the
    ingestion boundary). DuckDB twins: TRY_CAST, out-of-bounds list
    index (NULL by definition), try_strptime, and a NULLIF-guarded
    integer division.

    Scale shape: scan-side codegen, zero shuffles; the event_id slice
    bounds graded output size."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") < 5000
    )
    src = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.when(
            F.col("event_id") % 3 == 0,
            F.col("event_id").cast("string"),
        )
        .otherwise(F.concat("event_type", F.col("event_id").cast("string")))
        .alias("payload"),
    )
    return src.select(
        "event_id",
        F.expr("try_cast(payload AS INT)").alias("cast_back"),
        F.expr("try_element_at(split(event_type, ''), 12)").alias(
            "oob_char"
        ),
        F.expr("try_to_timestamp(payload, 'yyyy-MM-dd')").alias("bad_ts"),
        F.expr("try_divide(event_id, user_id % 7)").cast("long").alias(
            "safe_div"
        ),
    )


# ------------------------------------- char vs byte length semantics --


@query(
    "char_octet_length_suite",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS chars_total,
           CAST(sum(strlen(text)) AS BIGINT) AS bytes_total,
           CAST(sum(bit_length(text)) AS BIGINT) AS bits_total,
           CAST(sum(CASE WHEN strlen(text) > length(text)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_multibyte
    FROM documents
    GROUP BY 1
    """,
)
def char_octet_length_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character vs byte length semantics — the distinction every
    multilingual corpus audit needs (token budgets count characters or
    bytes depending on the tokenizer; storage sizing counts UTF-8
    bytes): length() counts CODE POINTS, octet_length() counts UTF-8
    bytes, bit_length() = 8x octets; n_multibyte counts documents where
    they differ (the CJK slice of the corpus). DuckDB twins: length /
    strlen / bit_length — the engines agree because both define string
    length over code points and bytes over UTF-8, with no
    normalization step in either (a grapheme-cluster count would
    differ; neither engine does it, which is exactly the semantic this
    row pins).

    Scale shape: scan-side codegen, one bounded-key fold."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("chars_total"),
        F.sum(F.octet_length("text")).cast("long").alias("bytes_total"),
        F.sum(F.bit_length("text")).cast("long").alias("bits_total"),
        F.sum(
            F.when(
                F.octet_length("text") > F.length("text"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_multibyte"),
    )
