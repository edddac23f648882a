"""Physical-plan quality gates: the properties that make these queries
scale are asserted, not assumed — predicate pushdown reaches the parquet
scan, column pruning trims ReadSchema, small dims broadcast, top-k
compiles to TakeOrderedAndProject, aggregations are partial+final, and
hot expressions stay inside WholeStageCodegen."""

from __future__ import annotations

import contextlib
import io
import os
import re
import tempfile

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, SF_DIR_MED

QUERIES = entrymod.queries()


def plan_of(spark, name: str, mode: str = "formatted") -> str:
    df = QUERIES[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "validity_filter")
    assert "PushedFilters:" in plan
    assert "GreaterThan" in plan  # value > 0 reached the parquet reader


def test_column_pruning(spark):
    """The window aggregation needs 4 of events' 6 columns — props and
    user_id must not be read."""
    plan = plan_of(spark, "weather_window_agg")
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "props" not in read_schema
    assert "user_id" not in read_schema
    assert "value" in read_schema


def test_broadcast_join_for_dims(spark):
    plan = plan_of(spark, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in plan


def test_enrichment_is_all_broadcast(spark):
    plan = plan_of(spark, "station_enrichment_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered(spark):
    plan = plan_of(spark, "top_k_values")
    assert "TakeOrderedAndProject" in plan


def test_partial_final_aggregation(spark):
    """Catalyst must split the windowed aggregate into partial (map-side)
    and final (post-shuffle) HashAggregates."""
    plan = plan_of(spark, "weather_window_agg", mode="simple")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_scalar_suite_wholestage_codegen(spark):
    plan = plan_of(spark, "scalar_function_suite", mode="simple")
    assert "WholeStageCodegen" in plan or "*(1)" in plan


def test_minhash_no_cartesian(spark):
    """The LSH candidate join must be a hash/merge join on band keys —
    never a cartesian product."""
    plan = plan_of(spark, "dedup_minhash_lsh", mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_bucket_join_not_cartesian(spark):
    plan = plan_of(spark, "similarity_ann_lsh", mode="simple")
    assert "CartesianProduct" not in plan


def test_decontam_corpus_shuffles_once(spark):
    """ngram_overlap's corpus side must flow scan → broadcast-left-join →
    ONE hash exchange (the per-doc groupBy). The eval side may exchange
    for its distinct (it is small by construction) and must broadcast;
    the corpus must never sort-merge or re-aggregate-and-join (the naive
    three-exchange shape this plan replaced)."""
    plan = plan_of(spark, "decontam_ngram_overlap", mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # two hash exchanges total: eval-side distinct + corpus groupBy
    assert plan.count("Exchange hashpartitioning") <= 2
    # map-side partial aggregation on the corpus count
    assert plan.count("HashAggregate") >= 2


def test_sequence_packing_single_data_shuffle(spark):
    """pack_offsets must shuffle the DATA once (hash on the range
    bucket for the in-bucket cumsum window); the cross-bucket carry may
    only move aggregate partials (map-side combined — n_buckets rows per
    input partition) plus one broadcast back. No global sort of the
    data, no cartesian."""
    plan = plan_of(spark, "sequence_packing", mode="simple")
    assert "BroadcastExchange" in plan  # the carry patch-back
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("HashAggregate") >= 2  # partial+final carry totals
    # the only single-partition constructs are over the n_buckets-row
    # carry frame, never the data: no global Sort outside a window over
    # __bucket rows (rangepartitioning would betray a data-wide sort)
    assert "rangepartitioning" not in plan.lower()


def test_q19_broadcast_zero_shuffle(spark):
    """Q19's OR-of-ANDs must compile to a broadcast join + single-group
    aggregate with NO shuffle exchange at all, and Catalyst must derive
    the single-side implied filters so the part scan is pre-filtered."""
    plan = plan_of(spark, "tpch_q19_disjunctive_predicates", mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange hashpartitioning" not in plan
    form = plan_of(spark, "tpch_q19_disjunctive_predicates")
    assert "PushedFilters:" in form  # implied per-side predicates pushed


def test_q18_qualifier_broadcast_and_topk(spark):
    """Q18's IN-over-HAVING must become: one hash agg on the order key,
    broadcast of the tiny qualifier set, and a TakeOrderedAndProject
    tail — never a second wide shuffle to evaluate the IN."""
    plan = plan_of(spark, "tpch_q18_large_orders", mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_q7_single_big_join_shuffle(spark):
    """Q7's two nation enrichments must both broadcast; the only
    sort-merge-eligible join is lineitem⋈orders. With broadcasts in
    place the plan carries the join + agg + order exchanges and no
    cartesian fallback."""
    plan = plan_of(spark, "tpch_q7_volume_shipping", mode="simple")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_budget_selection_carry_is_bounded(spark):
    """token_budget_selection rides the same distributed-prefix-sum
    shape as sequence_packing: one data shuffle on the level grid, a
    constant-size carry aggregate, broadcast patch-back — no data-wide
    range partitioning (global sort)."""
    plan = plan_of(spark, "token_budget_selection", mode="simple")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "rangepartitioning" not in plan.lower()


def test_sessionize_shares_one_sort_and_one_exchange(spark):
    """batch_sessionize's docstring claim, pinned: the lag window, the
    running-sum window and the final aggregate ride ONE user_id
    exchange and ONE per-user sort (Catalyst collapses the shared
    window spec)."""
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES

    plan = (
        QUERIES["batch_sessionize"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort ") == 1, plan
    assert plan.count("Window ") == 2  # lag pass + running-sum pass


def test_range_window_single_exchange_no_selfjoin(spark):
    """The trailing-24h RANGE frame must be a window computation, never
    the quadratic events-join-events-on-ts-BETWEEN rewrite."""
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES

    plan = (
        QUERIES["range_interval_window"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "RangeFrame" in plan


def test_weighted_sample_is_take_ordered(spark):
    """Global top-k by priority compiles to TakeOrderedAndProject —
    per-partition heaps, never a global sort-then-limit."""
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES

    plan = (
        QUERIES["weighted_sample_priority"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_hof_suite_is_shuffle_free_narrow(spark):
    """Every higher-order lambda stays scan-side: no exchange, no join,
    no aggregate — a single narrow Project over the scan. (Note the
    honest limit: lambda-bearing Projects are NOT whole-stage-codegen
    candidates in Spark — the plan shows a plain Project over
    ColumnarToRow — but the expressions are still JVM-evaluated;
    narrow-ness, not WSCG, is the scale property here.)"""
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES

    df = QUERIES["hof_function_suite"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan and "Aggregate" not in plan
    assert "Project" in plan


def test_gk_union_merge_single_summary_subtree(spark):
    """The shard-summary pipeline must be computed ONCE: carrying
    est_cents through the certificate aggregate as a grouping key
    (instead of a trailing join back to `est`) keeps the plan at
    exactly 4 hash exchanges — shard window, merge window, the
    certificate partial+final, and the estimate's bounded pick — with
    ONE broadcast of the 5-row estimate frame. A duplicated subtree
    would double the Window/Exchange count."""
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES

    plan = (
        QUERIES["gk_summary_union_merge_certified"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 4
    assert plan.count("BroadcastExchange") == 1
    assert plan.count("Window") <= 4  # rn+count shard pair, cw+tw merge pair


def test_bigram_acceptance_has_no_positional_self_join(spark):
    """Bigrams must come from the scan-side zip (zip_with tokens with
    their own tail), never the positional self-join that measured
    12.8x slower at 1M docs: the only joins left are the vocab-grain
    predictor join; the token-position table never shuffles."""
    import sparkksqldbbenchmark_spark.plans.round16_queries  # noqa: F401
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES as STAGED

    plan = (
        STAGED["bigram_draft_acceptance_rate"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "zip_with" in plan
    # exactly one join (bigrams x predictor); the self-join form had two
    assert plan.count("SortMergeJoin") + plan.count(
        "BroadcastHashJoin"
    ) == 1


def test_prefix_cache_is_one_collapsing_aggregate(spark):
    """The prefix extraction is a scan-side array slice (no explode,
    no window); the plan is two partial+final aggregate pairs and
    nothing else — no join anywhere."""
    import sparkksqldbbenchmark_spark.plans.round16_queries  # noqa: F401
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES as STAGED

    plan = (
        STAGED["prefix_cache_hit_mass"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert "Generate" not in plan  # no explode
    assert plan.count("Exchange hashpartitioning") == 2


def test_dpo_mining_is_aggregate_only_no_window(spark):
    """Chosen/rejected selection is mergeable min_by/max_by — one
    partial+final aggregate per side, a prompt-grain join, and NO
    window/sort (the row_number form would force a per-prompt sort)."""
    import sparkksqldbbenchmark_spark.plans.round16_queries  # noqa: F401
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES as STAGED

    plan = (
        STAGED["dpo_margin_pair_mining"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_successive_halving_plan_is_lazy_and_exchange_visible(spark):
    """VERDICT r15 'what's wrong' #1, re-proved after the re-plan:
    the rung schedule must be a LAZY plan whose exchanges the audits
    can see — not a driver-materialized LocalTableScan — and the
    per-rung rank must be the bounded-histogram two-level form (a
    cum-PARTITIONED tie window exists; no Window.orderBy over the arm
    frame ranks all arms in one reducer)."""
    import sparkksqldbbenchmark_spark.plans.round16_queries  # noqa: F401
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES

    plan = (
        QUERIES["successive_halving_plan"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not plan.strip().startswith("LocalTableScan")
    assert "Scan parquet" in plan
    assert plan.count("Exchange hashpartitioning") >= 3  # >=1 per rung
    # the tie-rank windows are partitioned by the reward value: the
    # row_number window spec's FIRST argument (its partition spec) must
    # be the cum column — asserted on the exact physical-plan spelling
    # (ADVICE r16 #3: the old or-branch passed for any plan containing
    # both tokens)
    assert "row_number() windowspecdefinition(cum#" in plan


def test_mg_sidecar_hot_set_is_broadcast_bounded(spark):
    """The hot set must reach the cold-remainder anti-joins as a
    BROADCAST (pigeonhole-bounded at 2x64 keys) — a shuffled anti-join
    would mean the sidecar re-shuffles both per-key count frames."""
    import sparkksqldbbenchmark_spark.plans.round16_queries  # noqa: F401
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES

    plan = (
        QUERIES["join_cardinality_mg_sidecar_estimate"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 2  # two anti-joins
    assert "LeftAnti" in plan


def test_curation_v4_keep_stage_is_bounded_broadcast(spark):
    """The PAV keep stage must add only bounded-frame work on top of
    the checkpointed stage boundaries (r17 optimization): the final
    plan consumes eager-checkpoint RDD scans (no corpus FileScan
    remains), and the fitted-bins/base-rate scalar frames reach the
    doc grain only as build-side broadcasts — never a cartesian
    product at doc grain."""
    import sparkksqldbbenchmark_spark.plans.round16_queries  # noqa: F401
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES

    plan = (
        QUERIES["curation_pipeline_v4_composed"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # stage boundaries are materialized behind eager checkpoints: the
    # final plan reads checkpointed RDD scans, not the corpus files
    assert "Scan ExistingRDD" in plan
    assert "FileScan" not in plan
    # BroadcastNestedLoopJoin only for the bounded scalar frames
    for seg in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert "BuildLeft" in seg[:60] or "BuildRight" in seg[:60]


def test_wmmr_generated_rounds_keep_candidates_bounded(spark):
    """The k=4 greedy must rank only the bounded top-8-per-source
    candidate slice: the corpus ranking window and the sim self-join
    run ONCE inside the eager checkpoint that builds the candidate
    slice (r17 optimization), and the whole selection is ONE cogrouped
    Arrow pass over the checkpoint-aligned frames (r18, llm/mmr.py) —
    the final plan must consume only checkpointed RDD scans (no corpus
    re-scan, no window, no cartesian) and contain exactly one
    FlatMapCoGroupsInPandas with no per-round join stages."""
    import sparkksqldbbenchmark_spark.plans.round16_queries  # noqa: F401
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES

    plan = (
        QUERIES["mmr_diversified_topk_weighted"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # everything upstream (ranking window, shingles, sim self-join)
    # is materialized behind the checkpoint: the final plan holds no
    # corpus scan or ranking window at all
    assert "Scan ExistingRDD" in plan
    assert "row_number" not in plan
    assert "FileScan" not in plan
    # the greedy is one cogrouped Arrow pass; the only join left is
    # the bounded per-source sim self-join, pinned sort-free
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" in plan  # the nc-bounded sim self-join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curation_v5_density_stage_is_one_global_window(spark):
    """v5's new budget stage must add only the doc-grain density
    rank window and 1-row scalar broadcasts (budget, base rate) —
    never a cartesian product at doc grain — on top of v4's
    bounded-broadcast keep/dedup/Bloom stages."""
    import sparkksqldbbenchmark_spark.plans.round17_queries  # noqa: F401
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES as STAGED

    plan = (
        STAGED["curation_pipeline_v5_composed"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # the keep/dedup/Bloom stages are materialized behind eager
    # checkpoints (r17 optimization): the final plan consumes
    # checkpointed RDD scans, so no corpus FileScan remains
    assert "Scan ExistingRDD" in plan
    assert "FileScan" not in plan
    # BroadcastNestedLoopJoin only for the 1-row scalar frames
    # (budget/base): every one must be a build-side broadcast
    for seg in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert "BuildLeft" in seg[:60] or "BuildRight" in seg[:60]


def test_bpe_supersteps_argmax_is_broadcast_per_round(spark):
    """Each BPE superstep's argmax pair must reach the position
    grain as a 1-row broadcast (limit 1 -> broadcast nested loop),
    and the per-word windows must stay partitioned by word — no
    global unpartitioned window over the position grain."""
    import sparkksqldbbenchmark_spark.plans.round17_queries  # noqa: F401
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES as STAGED

    df = STAGED["bpe_merge_supersteps_greedy"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # three supersteps -> at least three TakeOrderedAndProject or
    # GlobalLimit argmax subtrees feeding broadcasts
    assert (
        plan.count("TakeOrderedAndProject")
        + plan.count("GlobalLimit") >= 3
    )
    # the run-parity windows are word-partitioned: every window
    # spec in the plan carries the word partition key
    import re as _re

    for m in _re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        part = m.group(1)
        assert "word" in part, part


def test_mmr_sweep_shares_one_candidate_slice(spark):
    """The four-lambda sweep must rank the corpus ONCE for the
    candidate slice (plus one ranking per ranker inside it) and
    never produce a doc-grain cartesian product; the learned-pick
    and msim_0 frames are 1-row broadcasts."""
    import sparkksqldbbenchmark_spark.plans.round17_queries  # noqa: F401
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES as STAGED

    df = STAGED["mmr_lambda_sweep_learned"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    for seg in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert "BuildLeft" in seg[:60] or "BuildRight" in seg[:60]


def test_edit1_candidates_come_from_signature_equi_join(spark):
    """The distance-1 join must be a signature EQUI-join (hash or
    sort-merge on sig), never an all-pairs product; levenshtein may
    only appear as a post-join filter."""
    import sparkksqldbbenchmark_spark.plans.round17_queries  # noqa: F401
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES as STAGED

    df = STAGED["edit1_neighborhood_join_complete"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "sig" in plan and "levenshtein" in plan


def test_winnowing_window_is_doc_partitioned(spark):
    """The winnowing selection window must be partitioned by doc_id
    (per-doc bounded ROWS frame) — never a global unpartitioned
    window over the gram grain."""
    import re as _re

    import sparkksqldbbenchmark_spark.plans.round17_queries  # noqa: F401
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES as STAGED

    df = STAGED["winnowing_fingerprint_density_certified"](
        spark, SF_DIR
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    for m in _re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "doc_id" in m.group(1), m.group(1)


def test_countmin_single_events_scan(spark):
    """r18: the count-min counters are derived from the per-type truth
    aggregate (buckets depend only on event_type), so the plan must
    scan events exactly ONCE — the old form paid a second full scan
    plus a 3x explode just to rebuild numbers already in `truth`."""
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES

    df = QUERIES["countmin_heavy_hitters"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("events.parquet") <= 1, plan


def test_tpch_q3_no_sorts(spark):
    """r18: the order-key join is a shuffled-hash join (build = the
    filtered orders side); no Sort may survive in the plan (the top-10
    readout is TakeOrderedAndProject, not a global sort)."""
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES

    df = QUERIES["tpch_q3_shipping_priority"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    import re as _re

    assert not _re.search(r"\bSort \[", plan), plan


def test_self_joins_do_not_rely_on_auto_resolution(spark):
    """Each of these joins a DataFrame with one derived from it. Their
    join keys must name distinct attributes on the two sides: with
    Spark's self-join auto-resolution off, no equality in the analyzed
    plan may compare an attribute with itself (a trivially true
    predicate)."""
    names = ("tpch_q2_min_cost_supplier", "hard_negative_mining_topk",
             "cohens_kappa_exact")
    spark.conf.set("spark.sql.selfJoinAutoResolveAmbiguity", "false")
    try:
        for name in names:
            df = QUERIES[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().analyzed().toString()
            pairs = re.findall(r"\(([\w.]+#\d+L?) = ([\w.]+#\d+L?)\)", plan)
            assert pairs, name
            assert all(a != b for a, b in pairs), (name, pairs)
    finally:
        spark.conf.unset("spark.sql.selfJoinAutoResolveAmbiguity")


@contextlib.contextmanager
def jvm_warnings(spark, logger_name: str):
    """Collect what a JVM logger logs at WARN or above into a list."""
    log4j = spark._jvm.org.apache.logging.log4j
    lines: list[str] = []
    path = os.path.join(tempfile.mkdtemp(prefix="jvm_log_"), "warn.log")
    appender = (log4j.core.appender.FileAppender.newBuilder()
                .setName(f"capture-{os.path.basename(os.path.dirname(path))}")
                .withFileName(path).build())
    appender.start()
    logger = log4j.LogManager.getContext(False).getLogger(logger_name)
    level = logger.getLevel()
    logger.addAppender(appender)
    logger.setLevel(log4j.Level.WARN)
    try:
        yield lines
    finally:
        logger.removeAppender(appender)
        logger.setLevel(level)
        appender.stop()
        with open(path) as f:
            lines.extend(f.read().splitlines())


def test_recursive_cte_checkpoint_keeps_its_output(spark):
    """Each recursion step of recursive_cte_closure is checkpointed as a
    LogicalRDD. Spark warns when the checkpointed plan's output cannot be
    matched to its optimized plan's, which a duplicated anchor column
    (SELECT DISTINCT user_id, user_id, ...) causes; at sf0.01 the steps
    are large enough to be checkpointed."""
    with jvm_warnings(spark, "org.apache.spark.sql.execution.LogicalRDD") as lines:
        assert QUERIES["recursive_cte_closure"](spark, SF_DIR_MED).count() > 0
    assert not [ln for ln in lines if "output columns are expected" in ln], lines
