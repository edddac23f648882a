"""Invariant tests for the round-15 staged cohort (the round-16
staging area, plans/next_round.py), beyond the value-hash oracle
(tests/golden.py): each operator's result is re-derived by an
INDEPENDENT brute-force twin in plain Python over the collected slice
— a second witness sharing none of the SQL machinery, the standard
every staged cohort carries. Where the staged query uses an algebraic
shortcut (the PAV max-min identity, the water-filling closed form, the
Shapley weighted-marginal sum), the witness runs the DIRECT form the
shortcut replaces (stack-based pooling, unit filling, the efficiency
axiom).
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from fractions import Fraction

from sparkksqldbbenchmark_spark.catalog import load_table
import sparkksqldbbenchmark_spark.plans.round16_queries  # noqa: F401
from sparkksqldbbenchmark_spark.plans.registry import QUERIES as STAGED

SF_DIR = "/root/testdata/sf0.001"


def _md5int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_superstep2_matches_python_gather(spark):
    """Both supersteps re-walked in Python over the SAME candidate
    edge set (LSH bucket join is graded machinery since r8; the
    two-level message passing is what the witness re-derives)."""
    import pyspark.sql.functions as F

    from sparkksqldbbenchmark_spark.llm.dedup import lsh_banded_buckets

    docs = load_table(spark, SF_DIR, "documents")
    _, buckets = lsh_banded_buckets(docs, "text", "doc_id")
    a = buckets.select(F.col("doc_id").alias("da"), "band_idx", "bh")
    b = buckets.select(F.col("doc_id").alias("db"), "band_idx", "bh")
    pairs = {
        (r.da, r.db)
        for r in a.join(b, ["band_idx", "bh"])
        .where(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
        .collect()
    }
    nbrs = defaultdict(set)
    for u, v in pairs:
        nbrs[u].add(v)
        nbrs[v].add(u)
    deg = {u: len(vs) for u, vs in nbrs.items()}
    h1 = {u: sum(deg[v] for v in vs) for u, vs in nbrs.items()}
    expected = {
        u: (
            deg[u],
            h1[u],
            sum(h1[v] for v in vs),
            max(h1[v] for v in vs),
        )
        for u, vs in nbrs.items()
    }
    got = {
        r.doc_id: (r.degree, r.h1, r.h2_sum, r.h2_max)
        for r in STAGED["graph_pregel_superstep2"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected
    assert expected, "fixture must contain at least one dup edge"


def _gopher_keep_and_tokens(docs):
    """Shared Python walk of the Gopher keep + token counting used by
    the curation-v3 witness (mirrors the graduated v2 witness)."""
    kept = {}
    for r in docs:
        toks = r.text.split()
        if not toks:
            continue
        sents, cur = [], []
        for w in toks:
            cur.append(w)
            if _md5int(w) & 3 == 0:
                sents.append(" ".join(cur))
                cur = []
        if cur:
            sents.append(" ".join(cur))
        ns, nd = len(sents), len(set(sents))
        if (ns - nd) * 1000000 // ns < 300000:
            kept[r.doc_id] = (r.source, r.text, len(toks))
    return kept


def _shingles(text: str, n: int = 3):
    toks = text.split()
    return {
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    }


def test_curation_v3_matches_python_pipeline(spark):
    """The four-stage pipeline re-run in plain Python: Gopher keep,
    canonical dedup, EXACT containment decontamination (the direct
    form the Bloom prefilter accelerates), and unit-by-unit water
    filling (the direct form of the closed-form level)."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    pool = [r for r in rows if _md5int(str(r.doc_id)) % 10 != 0]
    eval_docs = [r for r in rows if _md5int(str(r.doc_id)) % 10 == 0]
    eval_sh = set()
    for r in eval_docs:
        eval_sh |= _shingles(r.text)
    kept = _gopher_keep_and_tokens(pool)
    # canonical dedup by md5(text)
    canon = {}
    for did, (src, text, nw) in sorted(kept.items()):
        key = hashlib.md5(text.encode()).hexdigest()
        canon.setdefault(key, did)
    deduped = {
        did: v
        for did, v in kept.items()
        if canon[hashlib.md5(v[1].encode()).hexdigest()] == did
    }
    # exact containment decontam
    clean, dropped = {}, Counter()
    for did, (src, text, nw) in deduped.items():
        if _shingles(text) & eval_sh:
            dropped[src] += 1
        else:
            clean[did] = (src, nw)
    totals = Counter()
    counts = Counter()
    for src, nw in clean.values():
        totals[src] += nw
        counts[src] += 1
    # direct water filling: one token-unit at a time to the lowest
    budget = sum(totals.values()) // 2
    alloc = {s: 0 for s in totals}
    for _ in range(budget):
        cands = [s for s in alloc if alloc[s] < totals[s]]
        if not cands:
            break
        s = min(cands, key=lambda s: (alloc[s], s))
        alloc[s] += 1
    got = {
        r.source: (
            r.docs_kept,
            r.docs_decontaminated,
            r.total_tokens,
            r.allocated_tokens,
        )
        for r in STAGED["curation_pipeline_v3_composed"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(totals)
    for src in totals:
        assert got[src] == (
            counts[src],
            dropped.get(src, 0),
            totals[src],
            alloc[src],
        ), src
    assert sum(dropped.values()) > 0, (
        "fixture must exercise the decontam stage"
    )


def test_pav_matches_stack_pooling(spark):
    """The max-min identity checked against the DIRECT PAV stack
    algorithm with exact Fractions, plus the monotonicity the fit
    exists to guarantee."""
    rows = load_table(spark, SF_DIR, "events").select(
        "value", "event_type"
    ).collect()
    nb = 20
    n = [0] * nb
    k = [0] * nb
    for r in rows:
        b = min(nb - 1, max(0, math.floor(r.value / 5.0)))
        n[b] += 1
        k[b] += r.event_type == "purchase"
    # PAV: maintain a stack of (sum_k, sum_n) pools with widths;
    # merge while the left pool's mean exceeds the right's
    stack = []
    widths = []
    for i in range(nb):
        ck, cn, w = k[i], n[i], 1
        while stack and (
            cn == 0
            or stack[-1][1] == 0
            or Fraction(stack[-1][0], max(stack[-1][1], 1))
            >= Fraction(ck, max(cn, 1))
        ):
            pk, pn = stack.pop()
            pw = widths.pop()
            ck += pk
            cn += pn
            w += pw
        stack.append((ck, cn))
        widths.append(w)
    fitted = []
    for (ck, cn), w in zip(stack, widths):
        f = Fraction(ck, cn) if cn else Fraction(0)
        fitted.extend([f] * w)
    got = {
        r.bin: (r.n, r.k, r.fitted_micros)
        for r in STAGED["pav_isotonic_calibration_binned"](
            spark, SF_DIR
        ).collect()
    }
    assert len(got) == nb
    prev = -1
    for i in range(nb):
        assert got[i][0] == n[i] and got[i][1] == k[i]
        expect_micros = (fitted[i].numerator * 1000000) // fitted[
            i
        ].denominator
        assert got[i][2] == expect_micros, (i, fitted[i])
        assert got[i][2] >= prev, "isotonic fit must be monotone"
        prev = got[i][2]


def test_kendall_matches_bruteforce_pairs(spark):
    rows = load_table(spark, SF_DIR, "documents").select(
        "source", "doc_id", "n_chars", "text"
    ).collect()
    by_src = defaultdict(list)
    for r in sorted(rows, key=lambda r: r.doc_id):
        if len(by_src[r.source]) < 40:
            by_src[r.source].append(
                (r.n_chars, _md5int(r.text) % 1000)
            )
    got = {
        r.source: r
        for r in STAGED["kendall_tau_topk_exact"](
            spark, SF_DIR
        ).collect()
    }
    for src, pts in by_src.items():
        nc = nd = tx = ty = txy = 0
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                dx = pts[i][0] - pts[j][0]
                dy = pts[i][1] - pts[j][1]
                if dx * dy > 0:
                    nc += 1
                elif dx * dy < 0:
                    nd += 1
                elif dx == 0 and dy == 0:
                    txy += 1
                elif dx == 0:
                    tx += 1
                else:
                    ty += 1
        g = got[src]
        assert (
            g.concordant,
            g.discordant,
            g.ties_x,
            g.ties_y,
            g.ties_xy,
            g.tau_numerator,
        ) == (nc, nd, tx, ty, txy, nc - nd), src


def test_shapley_matches_direct_sum_and_efficiency(spark):
    """The weighted-marginal sum re-derived from the per-user masks,
    and the EFFICIENCY AXIOM asserted: sum of Shapley values equals
    v(grand coalition) - v(empty), scaled by n!."""
    chans = ("click", "error", "signup", "view")
    n = len(chans)
    rows = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_type"
    ).collect()
    users = defaultdict(lambda: [0, 0])
    for r in rows:
        u = users[r.user_id]
        if r.event_type == "purchase":
            u[1] = 1
        elif r.event_type in chans:
            u[0] |= 1 << chans.index(r.event_type)
    agg = defaultdict(lambda: [0, 0])
    for mask, conv in users.values():
        agg[mask][0] += 1
        agg[mask][1] += conv
    v = {}
    for mask in range(1 << n):
        cnt, conv = agg.get(mask, (0, 0))
        v[mask] = (conv * 1000000) // max(cnt, 1)
    phi = {}
    for i in range(n):
        tot = 0
        for mask in range(1 << n):
            if mask & (1 << i):
                continue
            s = bin(mask).count("1")
            w = math.factorial(s) * math.factorial(n - 1 - s)
            tot += w * (v[mask | (1 << i)] - v[mask])
        phi[chans[i]] = tot
    got = {
        r.channel: r.phi_weighted_micros
        for r in STAGED["shapley_attribution_exact"](
            spark, SF_DIR
        ).collect()
    }
    assert got == phi
    assert sum(phi.values()) == math.factorial(n) * (
        v[(1 << n) - 1] - v[0]
    ), "efficiency axiom"


def test_bigram_acceptance_matches_counter_walk(spark):
    rows = load_table(spark, SF_DIR, "documents").select(
        "source", "text"
    ).collect()
    counts = defaultdict(Counter)
    positions = defaultdict(list)
    for r in rows:
        toks = r.text.split()
        for w1, w2 in zip(toks, toks[1:]):
            counts[r.source][(w1, w2)] += 1
            positions[r.source].append((w1, w2))
    got = {
        r.source: r
        for r in STAGED["bigram_draft_acceptance_rate"](
            spark, SF_DIR
        ).collect()
    }
    for src, pos in positions.items():
        pred = {}
        for (w1, w2), c in counts[src].items():
            cur = pred.get(w1)
            if cur is None or (-c, w2) < cur[0]:
                pred[w1] = ((-c, w2), w2)
        acc = sum(1 for w1, w2 in pos if pred[w1][1] == w2)
        g = got[src]
        assert (g.n_positions, g.n_accepted) == (len(pos), acc), src
        assert g.acceptance_micros == acc * 1000000 // len(pos)


def test_prefix_cache_matches_counter_walk(spark):
    rows = load_table(spark, SF_DIR, "documents").select(
        "source", "text"
    ).collect()
    groups = defaultdict(Counter)
    plens = {}
    for r in rows:
        toks = r.text.split()
        pfx = " ".join(toks[:8])
        groups[r.source][pfx] += 1
        plens[(r.source, pfx)] = min(8, len(toks))
    got = {
        r.source: r
        for r in STAGED["prefix_cache_hit_mass"](
            spark, SF_DIR
        ).collect()
    }
    for src, cnt in groups.items():
        n_docs = sum(cnt.values())
        shared = sum(c for c in cnt.values() if c > 1)
        cacheable = sum(
            (c - 1) * plens[(src, p)] for p, c in cnt.items()
        )
        total = sum(c * plens[(src, p)] for p, c in cnt.items())
        g = got[src]
        assert (
            g.n_docs,
            g.n_distinct_prefixes,
            g.docs_in_shared_groups,
            g.cacheable_prefix_tokens,
            g.cache_hit_micros,
        ) == (
            n_docs,
            len(cnt),
            shared,
            cacheable,
            cacheable * 1000000 // total,
        ), src


def test_k_anonymity_matches_counter_walk(spark):
    rows = load_table(spark, SF_DIR, "events").select(
        "event_type", "ts", "value", "user_id"
    ).collect()
    cells = defaultdict(lambda: [0, set()])
    for r in rows:
        vb = min(9, max(0, math.floor(r.value / 10.0)))
        c = cells[(r.event_type, r.ts.hour, vb)]
        c[0] += 1
        c[1].add(r.user_id)
    got = {
        r.event_type: r
        for r in STAGED["k_anonymity_risk_audit"](
            spark, SF_DIR
        ).collect()
    }
    per_type = defaultdict(lambda: [0, 0, 0, 0])
    for (et, _, _), (nrows, uset) in cells.items():
        t = per_type[et]
        t[0] += nrows
        t[1] += 1
        if len(uset) < 5:
            t[2] += 1
            t[3] += nrows
    for et, (nrows, ncells, risky, at_risk) in per_type.items():
        g = got[et]
        assert (
            g.n_rows,
            g.n_qi_cells,
            g.n_risky_cells,
            g.rows_at_risk,
            g.suppression_micros,
        ) == (
            nrows,
            ncells,
            risky,
            at_risk,
            at_risk * 1000000 // nrows,
        ), et


def test_bootstrap_matches_direct_resampling(spark):
    rows = load_table(spark, SF_DIR, "events").select(
        "ts", "value"
    ).collect()
    daily = defaultdict(lambda: [0, 0])
    for r in rows:
        d = r.ts.date()
        daily[d][0] += math.floor(r.value * 100)
        daily[d][1] += 1
    days = sorted(daily)
    nd = len(days)
    means = []
    for b in range(200):
        tc = tn = 0
        for i in range(nd):
            pick = _md5int(f"{b}#{i}") % nd
            c, n = daily[days[pick]]
            tc += c
            tn += n
        means.append(tc * 1000000 // tn)
    order = sorted(range(200), key=lambda b: (means[b], b))
    lo = means[order[200 // 20 - 1]]
    hi = means[order[200 - 200 // 20 - 1]]
    tot_c = sum(v[0] for v in daily.values())
    tot_n = sum(v[1] for v in daily.values())
    g = STAGED["bootstrap_ci_daily_mean"](spark, SF_DIR).collect()[0]
    assert g.n_days == nd
    assert g.mean_cents_micros == tot_c * 1000000 // tot_n
    assert (g.ci_lo_micros, g.ci_hi_micros) == (lo, hi)
    assert g.ci_lo_micros <= g.mean_cents_micros <= g.ci_hi_micros


def test_cardinality_estimate_matches_dict_walk(spark):
    orders = [
        r.o_custkey
        for r in load_table(spark, SF_DIR, "orders")
        .select("o_custkey")
        .collect()
    ]
    custs = [
        r.c_custkey
        for r in load_table(spark, SF_DIR, "customer")
        .select("c_custkey")
        .collect()
    ]
    ob, cbn, cbd = Counter(), Counter(), defaultdict(set)
    for k in orders:
        ob[k % 64] += 1
    for k in custs:
        cbn[k % 64] += 1
        cbd[k % 64].add(k)
    predicted = sum(
        ob[b] * cbn[b] // max(len(cbd[b]), 1) for b in ob if b in cbn
    )
    cset = Counter(custs)
    actual = sum(cset[k] for k in orders)
    g = STAGED["join_cardinality_histogram_estimate"](
        spark, SF_DIR
    ).collect()[0]
    assert g.actual == actual
    assert g.predicted == predicted
    assert g.ratio_micros == predicted * 1000000 // actual
    assert bool(g.within_10x) == (
        predicted * 10 >= actual and predicted <= actual * 10
    )


def test_backtest_folds_match_day_walk(spark):
    rows = load_table(spark, SF_DIR, "events").select(
        "ts", "value"
    ).collect()
    daily = defaultdict(lambda: [0, 0])
    for r in rows:
        d = r.ts.date()
        daily[d][0] += 1
        daily[d][1] += math.floor(r.value * 100)
    days = sorted(daily)
    nd = len(days)
    got = {
        r.fold: r
        for r in STAGED["rolling_origin_backtest_folds"](
            spark, SF_DIR
        ).collect()
    }
    for f in range(5):
        cut = nd - (5 - f) * 3
        tr = [daily[days[i]] for i in range(max(cut, 0))]
        te = [
            daily[days[i]]
            for i in range(max(cut, 0), min(cut + 3, nd))
            if i >= 0
        ]
        trn = sum(x[0] for x in tr)
        ten = sum(x[0] for x in te)
        g = got[f]
        assert g.train_days == cut
        assert g.train_rows == trn and g.test_rows == ten, f
        assert g.train_mean_micros == (
            sum(x[1] for x in tr) * 1000000 // max(trn, 1)
        )
        assert g.test_mean_micros == (
            sum(x[1] for x in te) * 1000000 // max(ten, 1)
        )
        # expanding origin: strictly growing training windows
        if f > 0:
            assert got[f].train_rows >= got[f - 1].train_rows


def test_dpo_pairs_match_per_user_walk(spark):
    rows = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "value"
    ).collect()
    per_user = defaultdict(list)
    for r in rows:
        per_user[r.user_id].append(
            (math.floor(r.value * 100), r.event_id)
        )
    expected = {}
    for u, evs in per_user.items():
        chosen = min(evs, key=lambda t: (-t[0], t[1]))
        rejected = min(evs, key=lambda t: (t[0], t[1]))
        margin = chosen[0] - rejected[0]
        if margin >= 2000 and chosen[1] != rejected[1]:
            expected[u] = (
                chosen[1],
                rejected[1],
                chosen[0],
                rejected[0],
                margin,
            )
    got = {
        r.user_id: (
            r.chosen_id,
            r.rejected_id,
            r.chosen_cents,
            r.rejected_cents,
            r.margin_cents,
        )
        for r in STAGED["dpo_margin_pair_mining"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected
    assert expected, "fixture must yield at least one pair"


def test_multiwm_emitted_set_matches_min_policy_walk(spark):
    """The union's append-mode emitted set re-derived in Python under
    the GLOBAL-MIN watermark rule — and the salience check: the min
    policy must emit STRICTLY FEWER windows than stream A's tighter
    10-minute watermark alone would, so the graded value genuinely
    distinguishes the policies."""
    import datetime

    rows = load_table(spark, SF_DIR, "events").select(
        "ts", "user_id"
    ).collect()
    t0 = min(r.ts for r in rows).replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    day1 = [
        r for r in rows if t0 <= r.ts < t0 + datetime.timedelta(days=1)
    ]
    max_a = max(r.ts for r in day1 if r.user_id % 2 == 0)
    max_b = max(r.ts for r in day1 if r.user_id % 2 == 1)
    wm_min = min(
        max_a - datetime.timedelta(minutes=10),
        max_b - datetime.timedelta(hours=2),
    )
    wm_a_only = max_a - datetime.timedelta(minutes=10)

    def emitted(wm):
        out = Counter()
        for r in day1:
            bucket = r.ts.replace(
                minute=(r.ts.minute // 15) * 15,
                second=0,
                microsecond=0,
            )
            if bucket + datetime.timedelta(minutes=15) <= wm:
                out[
                    (
                        bucket.strftime("%Y-%m-%d %H:%M:%S"),
                        "a" if r.user_id % 2 == 0 else "b",
                    )
                ] += 1
        return out

    expected = emitted(wm_min)
    got = Counter()
    for r in STAGED["streaming_union_multiple_watermarks"](
        spark, SF_DIR
    ).collect():
        got[(r.window_start, r.tag)] = r.n
    assert got == expected
    assert len(emitted(wm_a_only)) > len(expected), (
        "fixture must make the min policy observable vs the tight "
        "watermark"
    )


def test_skew_twin_matches_dict_walk_and_demonstrates_failure(spark):
    """The planted-skew estimator re-derived in Python, plus the
    salience assertion: the skewed prediction must UNDERSHOOT the
    actual (the hot-key mass the uniformity assumption dilutes),
    strictly worse than the uniform twin's ratio."""
    orders = [
        r.o_custkey
        for r in load_table(spark, SF_DIR, "orders")
        .select("o_custkey")
        .collect()
    ]
    custs = [
        r.c_custkey
        for r in load_table(spark, SF_DIR, "customer")
        .select("c_custkey")
        .collect()
    ]
    sk = lambda k: 0 if k % 97 < 30 else k  # noqa: E731
    ok = [sk(k) for k in orders]
    ck = [sk(k) for k in custs]
    ob, cbn, cbd = Counter(), Counter(), defaultdict(set)
    for k in ok:
        ob[k % 64] += 1
    for k in ck:
        cbn[k % 64] += 1
        cbd[k % 64].add(k)
    predicted = sum(
        ob[b] * cbn[b] // max(len(cbd[b]), 1) for b in ob if b in cbn
    )
    cc = Counter(ck)
    actual = sum(cc[k] for k in ok)
    g = STAGED["join_cardinality_skew_twin"](spark, SF_DIR).collect()[0]
    assert (g.predicted, g.actual) == (predicted, actual)
    assert g.ratio_micros == predicted * 1000000 // actual
    assert predicted < actual, "skew must make the estimator undershoot"
    u = STAGED["join_cardinality_histogram_estimate"](
        spark, SF_DIR
    ).collect()[0]
    assert g.ratio_micros < u.ratio_micros, (
        "the skew twin must demonstrate a strictly worse ratio than "
        "the uniform case"
    )


def test_rrf_matches_python_fusion(spark):
    """RRF re-derived with exact Fractions (the direct 1/(k+r) sum,
    not the combined num/den form), including the fused ordering."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "source", "doc_id", "n_chars", "text"
    ).collect()
    from fractions import Fraction

    by_src = defaultdict(list)
    for r in sorted(rows, key=lambda r: r.doc_id):
        if len(by_src[r.source]) < 40:
            by_src[r.source].append(
                (r.doc_id, r.n_chars, _md5int(r.text) % 1000)
            )
    got = defaultdict(dict)
    for r in STAGED["reciprocal_rank_fusion_exact"](
        spark, SF_DIR
    ).collect():
        got[r.source][r.fused_rank] = (
            r.doc_id,
            r.rank_by_length,
            r.rank_by_quality,
            r.rrf_micros,
        )
    k = 60
    for src, docs in by_src.items():
        r1 = {
            d[0]: i + 1
            for i, d in enumerate(
                sorted(docs, key=lambda d: (-d[1], d[0]))
            )
        }
        r2 = {
            d[0]: i + 1
            for i, d in enumerate(
                sorted(docs, key=lambda d: (-d[2], d[0]))
            )
        }
        score = {
            did: Fraction(1, k + r1[did]) + Fraction(1, k + r2[did])
            for did, _, _ in docs
        }
        ordered = sorted(score, key=lambda d: (-score[d], d))[:5]
        for pos, did in enumerate(ordered, start=1):
            g = got[src][pos]
            assert g[0] == did, (src, pos)
            assert (g[1], g[2]) == (r1[did], r2[did])
            f = score[did]
            assert g[3] == f.numerator * 1000000 // f.denominator


def test_cdc_chunks_match_python_walk(spark):
    """Chunk boundaries, identities and the cross-doc shared mass
    re-derived in Python — plus the SHIFT-INVARIANCE property the CDC
    rule exists for: chunking text X and text 'pfx X' yields the same
    chunk multiset for the suffix after the first boundary."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text"
    ).collect()

    def chunk(text):
        out, cur = [], []
        for w in text.split():
            cur.append(w)
            if _md5int(w) & 15 == 0:
                out.append(" ".join(cur))
                cur = []
        if cur:
            out.append(" ".join(cur))
        return out

    inst = []
    for r in rows:
        if r.text.split():
            for c in chunk(r.text):
                inst.append((r.source, c))
    cnt = Counter(c for _, c in inst)
    per_src = defaultdict(lambda: [0, 0, 0, 0])
    for src, c in inst:
        t = per_src[src]
        toks = len(c.split())
        t[0] += 1
        t[1] += toks
        if cnt[c] > 1:
            t[2] += 1
            t[3] += toks
    got = {
        r.source: r
        for r in STAGED["cdc_chunk_dedup_mass"](spark, SF_DIR).collect()
    }
    for src, (nc, nt, sc, st_) in per_src.items():
        g = got[src]
        assert (
            g.n_chunks,
            g.n_tokens,
            g.shared_chunks,
            g.shared_token_mass,
            g.share_micros,
        ) == (nc, nt, sc, st_, st_ * 1000000 // nt), src
    # shift invariance: prepending a non-boundary prefix leaves every
    # chunk after the first boundary identical
    base = rows[0].text
    toks = base.split()
    if len(toks) > 20:
        shifted = "zzqq " + base
        a, b = chunk(base), chunk(shifted)
        assert a[1:] == b[1:] or a == b[-len(a):]


def test_shapley_sampled_matches_direct_draws(spark):
    """The sampled estimator re-derived with direct md5 permutation
    draws, and the certificate semantics checked: abs_err_scaled is
    exactly |draws/24 * exact - sampled_sum|."""
    import itertools

    chans = ("click", "error", "signup", "view")
    n = len(chans)
    rows = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_type"
    ).collect()
    users = defaultdict(lambda: [0, 0])
    for r in rows:
        u = users[r.user_id]
        if r.event_type == "purchase":
            u[1] = 1
        elif r.event_type in chans:
            u[0] |= 1 << chans.index(r.event_type)
    agg = defaultdict(lambda: [0, 0])
    for mask, conv in users.values():
        agg[mask][0] += 1
        agg[mask][1] += conv
    v = {}
    for mask in range(1 << n):
        cnt, conv = agg.get(mask, (0, 0))
        v[mask] = (conv * 1000000) // max(cnt, 1)
    perms = list(itertools.permutations(range(n)))
    sampled = Counter()
    for b in range(240):
        perm = perms[_md5int(str(b)) % 24]
        mask = 0
        for c in perm:
            sampled[c] += v[mask | (1 << c)] - v[mask]
            mask |= 1 << c
    exact = {}
    for i in range(n):
        tot = 0
        for mask in range(1 << n):
            if mask & (1 << i):
                continue
            s = bin(mask).count("1")
            w = math.factorial(s) * math.factorial(n - 1 - s)
            tot += w * (v[mask | (1 << i)] - v[mask])
        exact[i] = tot
    got = {
        r.channel: r
        for r in STAGED["shapley_sampled_permutations_certified"](
            spark, SF_DIR
        ).collect()
    }
    for i, c in enumerate(chans):
        g = got[c]
        assert g.sum_delta_micros == sampled[i], c
        assert g.phi_weighted_micros == exact[i], c
        assert g.abs_err_scaled == abs(10 * exact[i] - sampled[i])


def test_fagin_ta_theorem_and_derivation(spark):
    """Fagin's completeness theorem verified directly: when the
    certificate is true, the candidate-limited top-k EQUALS the
    global brute-force top-k; the depth-64 candidate derivation is
    re-walked in Python either way."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "n_chars", "text"
    ).collect()
    scored = {
        r.doc_id: (r.n_chars, _md5int(r.text) % 1000) for r in rows
    }
    d, k = 64, 10
    by_a = sorted(scored, key=lambda i: (-scored[i][0], i))[:d]
    by_b = sorted(scored, key=lambda i: (-scored[i][1], i))[:d]
    thresh = scored[by_a[-1]][0] + scored[by_b[-1]][1]
    cand = set(by_a) | set(by_b)
    topk_cand = sorted(
        cand, key=lambda i: (-(scored[i][0] + scored[i][1]), i)
    )[:k]
    got = sorted(
        STAGED["fagin_ta_topk_certified"](spark, SF_DIR).collect(),
        key=lambda r: r.rank,
    )
    assert [r.doc_id for r in got] == topk_cand
    assert got[0].threshold == thresh
    kth_total = min(r.total for r in got)
    assert bool(got[0].complete_at_depth) == (kth_total >= thresh)
    if got[0].complete_at_depth:
        # the theorem: candidates contain the TRUE global top-k
        global_topk = sorted(
            scored,
            key=lambda i: (-(scored[i][0] + scored[i][1]), i),
        )[:k]
        assert topk_cand == global_topk, (
            "certificate true but candidate top-k != global top-k — "
            "Fagin's theorem violated"
        )
    assert bool(got[0].complete_at_depth) is True, (
        "sf0.001 fixture must exercise the certificate's TRUE branch "
        "(the sf0.1 sweep exercises FALSE — the depth law)"
    )


def test_err_matches_fraction_cascade(spark):
    """ERR re-derived with exact Fractions (the definitional cascade
    model, no scaling tricks) — the scaled integer must equal
    ERR * lcm(1..10) * 16^10 exactly, and the micros rendering must
    be the floor of ERR * 1e6."""
    from fractions import Fraction

    rows = load_table(spark, SF_DIR, "documents").select(
        "source", "doc_id", "n_chars", "text"
    ).collect()
    by_src = defaultdict(list)
    for r in rows:
        by_src[r.source].append(
            (-r.n_chars, r.doc_id, _md5int(r.text) % 16)
        )
    D = 2520 * 16**10
    got = {
        r.source: r
        for r in STAGED["err_exact_dyadic"](spark, SF_DIR).collect()
    }
    for src, docs in by_src.items():
        rels = [t[2] for t in sorted(docs)[:10]]
        e, p = Fraction(0), Fraction(1)
        for i, rel in enumerate(rels, start=1):
            e += Fraction(1, i) * Fraction(rel, 16) * p
            p *= 1 - Fraction(rel, 16)
        g = got[src]
        assert g.n_docs == len(rels)
        scaled = e * D
        assert scaled.denominator == 1
        assert g.err_scaled == scaled.numerator, src
        assert g.err_micros == (e.numerator * 1000000) // e.denominator
        assert 0 <= g.err_micros < 1000000


def test_duckdb_struct_fold_aliasing_pin():
    """Pins the DuckDB 1.0 behavior the err oracle works around:
    struct-lambda fields evaluate IN ORDER with the accumulator
    aliased in place, so a later field reading an earlier-written
    field sees the NEW value. If a DuckDB upgrade changes this, the
    oracle's acc-first ordering stays correct either way — this test
    exists so the change is NOTICED, not silently absorbed."""
    import duckdb

    con = duckdb.connect()
    r = con.execute(
        """
        SELECT list_reduce(
            list_prepend(
                {acc: 0::BIGINT, p: 10::BIGINT},
                list_transform([1, 1],
                               x -> {acc: 0::BIGINT, p: x::BIGINT})),
            (a, b) -> {acc: a.acc + a.p * 1000, p: a.p * 2})
        """
    ).fetchone()[0]
    con.close()
    # acc-first ordering: acc always sees the pre-update p
    assert r == {"acc": 30000, "p": 40}


def test_kmv_intersection_matches_python_sketch(spark):
    """The theta-intersection re-derived in Python from raw shingle
    hashes: per-half k-min sketches, theta, common-below-theta, and
    the scaled estimate — plus the exact overlap by set algebra."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    ).collect()
    k = 64
    halves = {"lo": set(), "hi": set()}
    for r in rows:
        grp = "lo" if r.doc_id % 2 == 0 else "hi"
        toks = r.text.split()
        for i in range(len(toks) - 2):
            g = " ".join(toks[i : i + 3])
            halves[grp].add(_md5int(g) & 2147483647)
    sk = {g: sorted(h)[:k] for g, h in halves.items()}
    theta = min(max(sk["lo"]), max(sk["hi"]))
    common = len(
        {h for h in sk["lo"] if h < theta}
        & {h for h in sk["hi"] if h < theta}
    )
    est = common * 2147483647 // theta
    exact = len(halves["lo"] & halves["hi"])
    g = STAGED["kmv_intersection_estimate_certified"](
        spark, SF_DIR
    ).collect()[0]
    assert (g.theta, g.common_below_theta) == (theta, common)
    assert (g.est_intersection, g.exact_intersection) == (est, exact)
    assert g.abs_err == abs(est - exact)
    assert exact > 0, "fixture halves must overlap (planted dups)"


def test_padding_waste_matches_python_batching(spark):
    """Both batching strategies re-walked in Python, plus the
    salience assertion: sorted batching must strictly reduce padding
    on this corpus (the business case the row grades)."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    ).collect()
    lens = [
        (r.doc_id, len(r.text.split())) for r in rows
    ]
    B = 32

    def waste(ordering):
        seq = [t[1] for t in ordering]
        pad = real = 0
        for i in range(0, len(seq), B):
            batch = seq[i : i + B]
            real += sum(batch)
            pad += max(batch) * len(batch) - sum(batch)
        return real, pad

    fifo_real, fifo_pad = waste(sorted(lens, key=lambda t: t[0]))
    srt_real, srt_pad = waste(sorted(lens, key=lambda t: (t[1], t[0])))
    got = {
        r.strategy: r
        for r in STAGED["padding_waste_sorted_vs_fifo"](
            spark, SF_DIR
        ).collect()
    }
    assert got["fifo"].real_tokens == fifo_real
    assert got["fifo"].padding_tokens == fifo_pad
    assert got["sorted"].real_tokens == srt_real
    assert got["sorted"].padding_tokens == srt_pad
    for tag, pad, real in (
        ("fifo", fifo_pad, fifo_real),
        ("sorted", srt_pad, srt_real),
    ):
        assert got[tag].waste_micros == pad * 1000000 // (pad + real)
    assert srt_pad < fifo_pad, (
        "sorted batching must strictly reduce padding here"
    )


def test_conformal_matches_python_walk(spark):
    """Split, calibration quantile, and held-out coverage re-derived
    in Python; the conformal guarantee asserted loosely (coverage
    within 10 points of the 90% target on every type)."""
    rows = load_table(spark, SF_DIR, "events").select(
        "event_type", "event_id", "value"
    ).collect()
    per = defaultdict(lambda: ([], []))
    for r in rows:
        half = _md5int(str(r.event_id)) % 2
        per[r.event_type][half].append(math.floor(r.value * 100))
    got = {
        r.event_type: r
        for r in STAGED["conformal_interval_coverage_exact"](
            spark, SF_DIR
        ).collect()
    }
    for et, (calib, test) in per.items():
        sc = sorted(calib)
        n = len(sc)
        # discrete median = percentile_disc(0.5): first rank with
        # cume_dist >= 0.5 -> index ceil(n/2)
        yhat = sc[(n + 1) // 2 - 1]
        res = sorted(abs(c - yhat) for c in calib)
        q = res[min(n, math.ceil((n + 1) * 0.9)) - 1]
        covered = sum(1 for c in test if abs(c - yhat) <= q)
        g = got[et]
        assert g.predictor_cents == yhat, et
        assert g.n_calibration == n
        assert g.interval_radius_cents == q, et
        assert (g.n_test, g.n_covered) == (len(test), covered)
        assert g.coverage_micros == covered * 1000000 // len(test)
        assert abs(g.coverage_micros - 900000) < 100000, (
            et,
            "coverage should sit near the 90% conformal target",
        )


def test_pinball_matches_check_function_and_minimizer(spark):
    """Both losses re-summed with the definitional check function,
    and Koenker's minimizer property asserted: the discrete median
    predictor achieves pinball50 no worse than +/-1-cent
    perturbations of it."""
    rows = load_table(spark, SF_DIR, "events").select(
        "event_type", "value"
    ).collect()
    per = defaultdict(list)
    for r in rows:
        per[r.event_type].append(math.floor(r.value * 100))
    got = {
        r.event_type: r
        for r in STAGED["pinball_loss_exact"](spark, SF_DIR).collect()
    }

    def pin(vals, pred, tau10):
        return sum(
            tau10 * (c - pred) if c >= pred else (10 - tau10) * (pred - c)
            for c in vals
        )

    for et, vals in per.items():
        sc = sorted(vals)
        n = len(sc)
        p50 = sc[(n + 1) // 2 - 1]
        p90 = sc[math.ceil(0.9 * n) - 1]
        g = got[et]
        assert (g.pred_p50, g.pred_p90) == (p50, p90), et
        assert g.pinball50_x10 == pin(vals, p50, 5)
        assert g.pinball90_x10 == pin(vals, p90, 9)
        # the quantile minimizes its own pinball loss
        for d in (-1, 1):
            assert pin(vals, p50, 5) <= pin(vals, p50 + d, 5), et
            assert pin(vals, p90, 9) <= pin(vals, p90 + d, 9), et


def test_mmr_matches_greedy_python_trace(spark):
    """The three MMR rounds re-executed as the definitional greedy
    loop in Python (relevance minus worst similarity to the selected
    set, ties to the smallest doc_id), plus the diversity property:
    each pick's max-sim-to-prior is no greater than the similarity a
    pure-relevance pick at that rank would have carried."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "source", "doc_id", "text"
    ).collect()
    by_src = defaultdict(list)
    shing = {}
    for r in rows:
        q = _md5int(r.text) % 1000
        by_src[r.source].append((q, r.doc_id))
        shing[r.doc_id] = _shingles(r.text)
    got = defaultdict(dict)
    for r in STAGED["mmr_diversified_top3_exact"](
        spark, SF_DIR
    ).collect():
        got[r.source][r.select_rank] = r

    def jac(a, b):
        sa, sb = shing[a], shing[b]
        u = len(sa | sb)
        return (len(sa & sb) * 1000000) // max(u, 1)

    for src, docs in by_src.items():
        cand = sorted(docs, key=lambda t: (-t[0], t[1]))[:8]
        rel = {d: q * 1000 for q, d in cand}
        remaining = [d for _, d in cand]
        selected = []
        for rank in (1, 2, 3):
            best = None
            for d in remaining:
                msim = max((jac(d, p) for p in selected), default=0)
                score = rel[d] - msim
                if best is None or (-score, d) < best[0]:
                    best = ((-score, d), d, msim)
            _, pick, msim = best
            g = got[src][rank]
            assert g.doc_id == pick, (src, rank)
            assert g.rel_micros == rel[pick]
            assert g.max_sim_to_prior_micros == msim
            selected.append(pick)
            remaining.remove(pick)


def test_successive_halving_matches_python_trace(spark):
    """The three elimination rungs re-executed as the definitional
    loop in Python, plus the budget law: rung spend concentrates
    geometrically (each rung's arm count halves while its per-arm
    budget doubles, so spends stay within 2x of each other)."""
    rows = load_table(spark, SF_DIR, "events").select(
        "user_id"
    ).collect()
    arms = sorted({r.user_id for r in rows})
    cum = {u: _md5int(f"{u}#0") % 1000 for u in arms}
    got = {
        r.rung: r
        for r in STAGED["successive_halving_plan"](
            spark, SF_DIR
        ).collect()
    }
    budget = 1
    for rung in range(3):
        n = len(cum)
        keep = (n + 1) // 2
        kept = sorted(cum, key=lambda u: (-cum[u], u))[:keep]
        cutoff = min(cum[u] for u in kept)
        g = got[rung]
        assert (
            g.n_arms,
            g.budget_per_arm,
            g.rung_spend,
            g.keep_cutoff_cum,
            g.n_kept,
        ) == (n, budget, budget * n, cutoff, keep), rung
        if rung < 2:
            budget *= 2
            cum = {
                u: cum[u] + _md5int(f"{u}#{rung + 1}") % 1000
                for u in kept
            }
    spends = [got[r].rung_spend for r in range(3)]
    assert max(spends) <= 2 * min(spends) + 2, (
        "halving + doubling must keep rung spends comparable"
    )
