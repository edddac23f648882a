"""Second witnesses for the round-16 staged cohort (the round-17
staging area, graduated to plans/round17_queries.py), beyond the value-hash oracle
(tests/golden.py): each operator's result is re-derived by an
INDEPENDENT brute-force twin in plain Python over the collected slice.
Where the staged query uses an algebraic shortcut (the CUSUM prefix-sum
identity, the floor-key density ordering, the cross-product distance
ordering), the witness runs the DIRECT form the shortcut replaces (the
sequential recurrence, Fraction ratios, true chord distances).
"""

from __future__ import annotations

import hashlib
import statistics
from collections import Counter, defaultdict
from fractions import Fraction

from sparkksqldbbenchmark_spark.catalog import load_table
import sparkksqldbbenchmark_spark.plans.next_round  # noqa: F401
import sparkksqldbbenchmark_spark.plans.round17_queries  # noqa: F401
from sparkksqldbbenchmark_spark.plans.registry import QUERIES as STAGED

SF_DIR = "/root/testdata/sf0.001"


def _md5int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_discretization_merge_matches_fraction_walk(spark):
    """Rate gaps re-derived as exact Fractions; the merge verdicts
    and island ids replayed bin by bin."""
    rows = load_table(spark, SF_DIR, "events").select(
        "value", "event_type"
    ).collect()
    agg = {b: [0, 0] for b in range(20)}
    for r in rows:
        b = min(19, max(0, int(r.value // 5)))
        agg[b][0] += 1
        agg[b][1] += 1 if r.event_type == "purchase" else 0
    got = {
        r.bin: r
        for r in STAGED["supervised_discretization_merge_sweep"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(range(20))
    island = 0
    merged_seen = unmerged_seen = False
    for b in range(20):
        n, k = agg[b]
        g = got[b]
        assert (g.n, g.k) == (n, k), b
        if b == 0:
            merged = False
            gap = 0
        else:
            n_lo, k_lo = agg[b - 1]
            gap = k_lo * n - k * n_lo
            if n_lo == 0 or n == 0:
                merged = True
            else:
                merged = Fraction(abs(gap), n_lo * n) < Fraction(
                    1, 20
                )
        assert g.rate_gap_x == gap, b
        assert g.merged_with_prev == merged, b
        if b > 0:
            merged_seen |= merged
            unmerged_seen |= not merged
        if not merged:
            island += 1
        assert g.island == island, b
    assert merged_seen and unmerged_seen, (
        "fixture must exercise both merge outcomes"
    )


def test_seasonal_cusum_matches_sequential_recurrence(spark):
    """The prefix-sum identity checked against the DIRECT nonlinear
    recurrence S_t = max(0, S_{t-1} + r_t), run day by day."""
    import datetime
    import math

    rows = load_table(spark, SF_DIR, "events").select(
        "ts", "value", "event_type"
    ).collect()
    epoch = datetime.date(1970, 1, 1)
    daily = defaultdict(int)
    for r in rows:
        daily[(r.event_type, r.ts.date())] += int(
            math.floor(r.value * 100)
        )
    groups = defaultdict(list)
    meds = defaultdict(list)
    for (et, d), cents in daily.items():
        meds[(et, (d - epoch).days % 7)].append(cents)
    med = {k: statistics.median_low(v) for k, v in meds.items()}
    for (et, d), cents in daily.items():
        groups[et].append((d, cents - med[(et, (d - epoch).days % 7)]))
    got = {
        r.event_type: r
        for r in STAGED["seasonal_cusum_residual_flags"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(groups)
    for et, series in groups.items():
        series.sort()
        s = 0
        mx = 0
        flags = 0
        first = None
        for d, r in series:
            s = max(0, s + r)
            mx = max(mx, s)
            if s > 200000:
                flags += 1
                if first is None:
                    first = d
        g = got[et]
        assert g.n_days == len(series)
        assert g.max_cusum_cents == mx, et
        assert g.n_flag_days == flags, et
        assert g.first_flag_day == (
            first.strftime("%Y-%m-%d") if first else ""
        ), et


def test_weighted_rrf_matches_fraction_fusion(spark):
    """Weights and fused ordering re-derived with exact Fractions."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars", "lang", "text"
    ).collect()
    by_src = defaultdict(list)
    for r in rows:
        by_src[r.source].append(r)
    ranked = {}
    w1 = w2 = 1
    for src, docs in by_src.items():
        sl = sorted(docs, key=lambda r: r.doc_id)[:40]
        r1 = {
            r.doc_id: i + 1
            for i, r in enumerate(
                sorted(sl, key=lambda r: (-r.n_chars, r.doc_id))
            )
        }
        q = {r.doc_id: _md5int(r.text) % 1000 for r in sl}
        r2 = {
            r.doc_id: i + 1
            for i, r in enumerate(
                sorted(sl, key=lambda r: (-q[r.doc_id], r.doc_id))
            )
        }
        ranked[src] = (sl, r1, r2)
        for r in sl:
            if r1[r.doc_id] <= 10 and r.lang == "en":
                w1 += 1
            if r2[r.doc_id] <= 10 and r.lang == "en":
                w2 += 1
    got = defaultdict(dict)
    for r in STAGED["rrf_weighted_fusion_exact"](
        spark, SF_DIR
    ).collect():
        got[r.source][r.fused_rank] = r
        assert (r.weight_length, r.weight_quality) == (w1, w2)
    for src, (sl, r1, r2) in ranked.items():
        scored = sorted(
            sl,
            key=lambda r: (
                -(
                    Fraction(w1, 60 + r1[r.doc_id])
                    + Fraction(w2, 60 + r2[r.doc_id])
                ),
                r.doc_id,
            ),
        )[:5]
        for rank, r in enumerate(scored, start=1):
            g = got[src][rank]
            assert g.doc_id == r.doc_id, (src, rank)
            assert g.rank_by_length == r1[r.doc_id]
            assert g.rank_by_quality == r2[r.doc_id]
    assert w1 > 1 and w2 > 1, "weights must be data-driven, not 1"


def test_knee_matches_true_chord_distance(spark):
    """The frontier re-derived by the quadratic dominance test and
    the knee by TRUE chord distance (Fraction |cross|^2 / |chord|^2)
    — same argmax as the integer cross product."""
    rows = load_table(spark, SF_DIR, "part").select(
        "p_brand", "p_size", "p_retailprice"
    ).collect()
    import math

    cells = {}
    for r in rows:
        key = (r.p_brand, int(r.p_size))
        c = int(math.floor(r.p_retailprice * 100))
        cells[key] = min(cells.get(key, c), c)
    by_brand = defaultdict(dict)
    for (brand, size), price in cells.items():
        by_brand[brand][size] = price
    got = {
        r.brand: r
        for r in STAGED["pareto_knee_maxcross"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(by_brand)
    for brand, pts in by_brand.items():
        frontier = [
            (s, p)
            for s, p in pts.items()
            if not any(
                s2 > s and p2 <= p for s2, p2 in pts.items()
            )
        ]
        frontier.sort()
        a, b = frontier[0], frontier[-1]
        chord2 = (b[0] - a[0]) ** 2 + (b[1] - a[1]) ** 2

        def cross(p):
            return abs(
                (b[0] - a[0]) * (p[1] - a[1])
                - (b[1] - a[1]) * (p[0] - a[0])
            )

        best = min(frontier, key=lambda p: (-cross(p), p[0]))
        g = got[brand]
        assert g.n_frontier == len(frontier), brand
        assert (g.knee_size, g.knee_price_cents) == best, brand
        assert g.knee_cross_x == cross(best), brand
        # distance ordering equivalence: same argmax under the true
        # normalized distance when the chord is non-degenerate
        if chord2 > 0:
            truebest = min(
                frontier,
                key=lambda p: (
                    -Fraction(cross(p) ** 2, chord2),
                    p[0],
                ),
            )
            assert truebest == best, brand


def test_context_policy_sweep_matches_batch_walk(spark):
    """Per-policy truncation + sorted next-batch padding replayed."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    ).collect()
    lens = {r.doc_id: max(len(r.text.split()), 0) for r in rows}
    got = {
        r.ctx_len: r
        for r in STAGED["context_length_policy_sweep"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == {64, 128, 256}
    for L, g in got.items():
        used = sorted(
            (min(n, L), did) for did, n in lens.items()
        )
        truncated = sum(max(n - L, 0) for n in lens.values())
        pad = real = 0
        nb = 0
        for i in range(0, len(used), 8):
            batch = used[i : i + 8]
            mx = max(u for u, _ in batch)
            s = sum(u for u, _ in batch)
            pad += mx * len(batch) - s
            real += s
            nb += 1
        assert (
            g.n_batches,
            g.used_tokens,
            g.truncated_tokens,
            g.padding_tokens,
        ) == (nb, real, truncated, pad), L
        assert g.pad_waste_micros == pad * 1000000 // (pad + real)
        assert (
            g.trunc_loss_micros
            == truncated * 1000000 // (real + truncated)
        )
    # the sweep must show the trade: truncation falls with L,
    # padding rate rises or stays
    assert (
        got[64].truncated_tokens
        >= got[128].truncated_tokens
        >= got[256].truncated_tokens
    )


def test_density_greedy_matches_fraction_walk_and_bound(spark):
    """Greedy replayed with TRUE Fraction densities; the additive
    certificate re-proved: greedy + max_item >= fractional OPT."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    ).collect()
    items = []
    for r in rows:
        v = _md5int(r.text) % 1000 + 1
        c = max(len(r.text.split()), 1)
        items.append((r.doc_id, v, c))
    budget = sum(c for _, _, c in items) // 10
    order = sorted(
        items, key=lambda t: (-Fraction(t[1], t[2]), t[0])
    )
    cum_c = cum_v = n_sel = 0
    nxt = None
    for did, v, c in order:
        if cum_c + c <= budget:
            cum_c += c
            cum_v += v
            n_sel += 1
        else:
            nxt = (v, c)
            break
    frac_opt = cum_v + (
        (budget - cum_c) * nxt[0] // nxt[1] if nxt else 0
    )
    max_v = max(v for _, v, _ in items)
    g = STAGED["density_greedy_budget_certified"](
        spark, SF_DIR
    ).collect()[0]
    assert (
        g.n_sel,
        g.selected_value,
        g.selected_cost,
        g.budget,
        g.frac_opt_floor,
        g.max_item_v,
    ) == (n_sel, cum_v, cum_c, budget, frac_opt, max_v)
    assert g.within_additive_bound
    assert cum_v + max_v >= frac_opt
    # and the bound is not vacuous: the greedy prefix genuinely
    # stopped before taking everything
    assert nxt is not None


def test_sortkey_deltas_match_sorted_walk_and_telescope(spark):
    """Delta profiles re-derived per ordering in plain Python, plus
    the telescoping law: value-sorted |delta| mass equals
    max - min exactly (the compression floor the row exists to
    show)."""
    import math

    rows = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "ts", "value"
    ).collect()
    base = [
        (r.event_id, r.user_id, r.ts, int(math.floor(r.value * 100)))
        for r in rows
    ]
    orderings = {
        "natural": sorted(base, key=lambda t: t[0]),
        "by_time": sorted(base, key=lambda t: (t[2], t[0])),
        "by_user_time": sorted(base, key=lambda t: (t[1], t[2], t[0])),
        "by_value": sorted(base, key=lambda t: (t[3], t[0])),
    }
    got = {
        r.ordering: r
        for r in STAGED["sortkey_delta_compression_estimate"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(orderings)
    for tag, seq in orderings.items():
        ds = [
            b[3] - a[3] for a, b in zip(seq, seq[1:])
        ]
        g = got[tag]
        assert g.n_deltas == len(ds), tag
        assert g.abs_delta_mass == sum(abs(d) for d in ds), tag
        assert g.n_zero_deltas == sum(1 for d in ds if d == 0), tag
        assert g.max_abs_delta == max(abs(d) for d in ds), tag
        assert g.n_byte_deltas == sum(
            1 for d in ds if abs(d) < 256
        ), tag
    cents = [t[3] for t in base]
    assert got["by_value"].abs_delta_mass == max(cents) - min(cents)
    assert (
        got["by_value"].abs_delta_mass
        < got["natural"].abs_delta_mass
    ), "the sort key must actually buy compression"


def test_dp_sensitivity_matches_contribution_walk(spark):
    """Per-user contributions re-counted in plain dicts; the
    sensitivities are exact maxima and the Laplace scales follow by
    arithmetic."""
    import math

    rows = load_table(spark, SF_DIR, "events").select(
        "event_type", "user_id", "value"
    ).collect()
    contrib = defaultdict(lambda: [0, 0])
    for r in rows:
        c = contrib[(r.event_type, r.user_id)]
        c[0] += 1
        c[1] += abs(int(math.floor(r.value * 100)))
    got = {
        r.event_type: r
        for r in STAGED["dp_sensitivity_noise_budget"](
            spark, SF_DIR
        ).collect()
    }
    types = {et for et, _ in contrib}
    assert set(got) == types
    for et in types:
        users = {
            u: v for (e, u), v in contrib.items() if e == et
        }
        g = got[et]
        cs = max(v[0] for v in users.values())
        ss = max(v[1] for v in users.values())
        assert g.n_users == len(users)
        assert g.n_rows == sum(v[0] for v in users.values())
        assert g.count_sensitivity == cs
        assert g.sum_sensitivity_cents == ss
        assert g.count_noise_scale_micros == cs * 10 * 1000000 // 5
        assert g.sum_noise_scale_micros == ss * 10 * 1000000 // 5
        # sensitivity must exceed the naive row-level bound of 1,
        # or user-level accounting graded nothing
        assert cs > 1


def test_theil_sen_matches_fraction_median(spark):
    """The median slope re-selected with TRUE Fractions (median_low
    over the exact slope values) — same pair as the floor-key
    median — plus the Mann-Kendall sign census."""
    import math

    rows = load_table(spark, SF_DIR, "events").select(
        "event_type", "ts", "value"
    ).collect()
    daily = defaultdict(int)
    for r in rows:
        daily[(r.event_type, r.ts.date())] += int(
            math.floor(r.value * 100)
        )
    series = defaultdict(list)
    for (et, d), cents in daily.items():
        series[et].append((d, cents))
    got = {
        r.event_type: r
        for r in STAGED["theil_sen_slope_exact"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(series)
    for et, days in series.items():
        days.sort()
        ys = [c for _, c in days]
        pairs = [
            (ys[j] - ys[i], j - i)
            for i in range(len(ys))
            for j in range(i + 1, len(ys))
        ]
        g = got[et]
        assert g.n_pairs == len(pairs)
        # both engines TRUNCATE toward zero (Spark div, DuckDB //);
        # int(Fraction) replicates that exactly
        keys = sorted(
            int(Fraction(num * 1099511627776, den))
            for num, den in pairs
        )
        assert g.median_slope_key == keys[(len(keys) - 1) // 2], et
        # the truncating key selects the true Fraction median pair
        fracs = sorted(Fraction(n, d) for n, d in pairs)
        true_med = fracs[(len(fracs) - 1) // 2]
        key_val = Fraction(g.median_slope_key, 1099511627776)
        assert abs(true_med - key_val) < Fraction(1, 1 << 20), et
        assert g.n_rising_pairs == sum(1 for n, _ in pairs if n > 0)
        assert g.n_falling_pairs == sum(
            1 for n, _ in pairs if n < 0
        )


def test_team_draft_matches_protocol_replay(spark):
    """The draft protocol replayed pick by pick in plain Python
    (coin, minority-team rule folded into the fixed round structure,
    top-unpicked selection), plus the salience check: both teams must
    win at least one first pick across sources, or the coin graded
    nothing."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars", "text"
    ).collect()
    by_src = defaultdict(list)
    for r in rows:
        by_src[r.source].append(r)
    got = defaultdict(dict)
    for r in STAGED["team_draft_interleave_preference"](
        spark, SF_DIR
    ).collect():
        got[r.source][r.pos] = r
    first_teams = set()
    for src, docs in by_src.items():
        sl = sorted(docs, key=lambda r: r.doc_id)[:40]
        q = {r.doc_id: _md5int(r.text) % 1000 for r in sl}
        ra = [
            r.doc_id
            for r in sorted(sl, key=lambda r: (-r.n_chars, r.doc_id))
        ]
        rb = [
            r.doc_id
            for r in sorted(
                sl, key=lambda r: (-q[r.doc_id], r.doc_id)
            )
        ]
        c1 = _md5int(f"{src}#coin1") % 2
        c3 = _md5int(f"{src}#coin3") % 2
        teams = [c1, 1 - c1, c3, 1 - c3]
        picked = []
        for pos, team in enumerate(teams, start=1):
            ranking = ra if team == 0 else rb
            pick = next(d for d in ranking if d not in picked)
            picked.append(pick)
            g = got[src][pos]
            assert g.doc_id == pick, (src, pos)
            assert g.team == team, (src, pos)
            assert g.clicked == (q[pick] >= 500), (src, pos)
        first_teams.add(teams[0])
    assert first_teams == {0, 1}, (
        "the md5 coin must exercise both first-pick orders"
    )


def test_bh_stepup_matches_sorted_walk(spark):
    """The BH procedure replayed over the collected cell grid; the
    planted signal block must drive at least the 'purchase' cells to
    rejection (without it the 120 uniform nulls never reject)."""
    rows = load_table(spark, SF_DIR, "events").select(
        "event_type", "ts"
    ).collect()
    cells = sorted({(r.event_type, r.ts.hour) for r in rows})
    pvals = {}
    for et, hr in cells:
        h = _md5int(f"{et}#{hr}")
        pvals[(et, hr)] = h % 500 if et == "purchase" else h % 1000000
    m = len(cells)
    ranked = sorted(cells, key=lambda c: (pvals[c], c))
    sat = {
        c: 10 * pvals[c] * m <= (i + 1) * 1000000
        for i, c in enumerate(ranked)
    }
    kstar = max(
        (i + 1 for i, c in enumerate(ranked) if sat[c]), default=0
    )
    got = {
        (r.event_type, r.hr): r
        for r in STAGED["benjamini_hochberg_fdr_stepup"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(cells)
    for i, c in enumerate(ranked):
        g = got[c]
        assert g.p_x == pvals[c], c
        assert g.rank == i + 1, c
        assert g.satisfied == sat[c], c
        assert g.rejected == (i + 1 <= kstar), c
    n_rej = sum(1 for g in got.values() if g.rejected)
    assert n_rej >= sum(1 for et, _ in cells if et == "purchase")
    assert n_rej < m, "the nulls must not all reject"


def test_km_hazard_matches_lifespan_walk(spark):
    """Per-user spans, censoring at the horizon, and the at-risk /
    churn / hazard columns replayed with plain dicts; plus the KM
    identities: at-risk counts telescope by exits, and censored
    users never count as churn."""
    rows = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts"
    ).collect()
    spans = {}
    for r in rows:
        d = r.ts.date()
        f, l = spans.get(r.user_id, (d, d))
        spans[r.user_id] = (min(f, d), max(l, d))
    dmax = max(l for _, l in spans.values())
    lived = [
        ((l - f).days, l == dmax) for f, l in spans.values()
    ]
    kmax = max(k for k, _ in lived)
    got = {
        r.day_k: r
        for r in STAGED["km_hazard_table_exact"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(range(kmax + 1))
    for k in range(kmax + 1):
        at_risk = sum(1 for life, _ in lived if life >= k)
        churn = sum(
            1 for life, cens in lived if life == k and not cens
        )
        cens = sum(
            1 for life, c in lived if life == k and c
        )
        g = got[k]
        assert (g.n_at_risk, g.n_churned, g.n_censored) == (
            at_risk,
            churn,
            cens,
        ), k
        assert g.hazard_micros == churn * 1000000 // at_risk, k
        if k > 0:
            prev = got[k - 1]
            assert (
                g.n_at_risk
                == prev.n_at_risk - prev.n_churned - prev.n_censored
            ), k
    assert any(g.n_censored > 0 for g in got.values()), (
        "the horizon must censor someone, or the censoring axis is "
        "vacuous"
    )
    assert any(g.n_churned > 0 for g in got.values())


def test_streaming_median_matches_batch_walk(spark):
    """The closed-set rule + discrete median replayed in plain
    Python over the day-1 slice: windows whose end clears the final
    watermark, median = lower middle order statistic."""
    import datetime
    import math

    rows = load_table(spark, SF_DIR, "events").select(
        "ts", "event_type", "value"
    ).collect()
    t0 = min(r.ts for r in rows).replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    day1 = [
        r
        for r in rows
        if t0 <= r.ts < t0 + datetime.timedelta(days=1)
    ]
    wm = max(r.ts for r in day1) - datetime.timedelta(minutes=10)
    wins = defaultdict(list)
    for r in day1:
        mins = (r.ts - t0).total_seconds() // 60
        ws = t0 + datetime.timedelta(minutes=15 * (mins // 15))
        if ws + datetime.timedelta(minutes=15) <= wm:
            wins[(ws, r.event_type)].append(
                int(math.floor(r.value * 100))
            )
    got = {
        (r.window_start, r.event_type): r
        for r in STAGED["streaming_window_exact_median"](
            spark, SF_DIR
        ).collect()
    }
    exp = {
        (ws.strftime("%Y-%m-%d %H:%M:%S"), et): vals
        for (ws, et), vals in wins.items()
    }
    assert set(got) == set(exp)
    for key, vals in exp.items():
        g = got[key]
        assert g.n == len(vals), key
        assert g.median_cents == statistics.median_low(vals), key
    # the emitted set must exclude at least one open window
    open_wins = {
        (ws, et)
        for (ws, et), _ in (
            (
                (
                    t0
                    + datetime.timedelta(
                        minutes=15
                        * ((r.ts - t0).total_seconds() // 60 // 15)
                    ),
                    r.event_type,
                ),
                None,
            )
            for r in day1
        )
    }
    assert len(open_wins) > len(exp), (
        "the watermark must hold back at least one window"
    )


def test_salt_plan_matches_ceiling_walk(spark):
    """The salt arithmetic replayed with math.ceil; the plan's own
    certificate re-proved: ceil(n/ceil(n*td/t)) <= t/td always (the
    ceiling-division inequality), so within_target must be True."""
    import math

    rows = load_table(spark, SF_DIR, "orders").select(
        "o_custkey"
    ).collect()
    co = Counter(
        0 if r.o_custkey % 97 < 30 else r.o_custkey for r in rows
    )
    t = sum(co.values())
    hot = {k: n for k, n in co.items() if n * 64 >= t}
    got = {
        r.hot_key: r
        for r in STAGED["skew_salt_plan_from_histogram"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(hot)
    for k, n in hot.items():
        g = got[k]
        salt = math.ceil(n * 32 / t)
        rps = math.ceil(n / salt)
        assert (g.n_rows, g.salt_factor, g.rows_per_salt) == (
            n,
            salt,
            rps,
        ), k
        assert g.per_task_target == t // 32
        assert g.within_target
        assert rps <= t // 32 or t // 32 == 0
    assert 0 in hot, "the planted key must be the hot key"


def test_by_stepup_matches_fraction_walk(spark):
    """BY re-derived with Fractions: exact-rational step-up over the
    dyadic harmonic constant, plus the conservativeness theorem
    h_x/2^20 >= true H_m (every term rounds up)."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "lang", "source"
    ).distinct().collect()
    cells = sorted((r.lang, r.source) for r in rows)
    m = len(cells)
    h_x = sum((1 << 20) + j - 1 >> 0 for j in []) or 0
    h_x = sum(((1 << 20) + j - 1) // j for j in range(1, m + 1))
    assert Fraction(h_x, 1 << 20) >= sum(
        Fraction(1, j) for j in range(1, m + 1)
    )
    tested = []
    for lang, source in cells:
        px = _md5int(f"{lang}#{source}")
        px = px % 300 if lang == "en" else px % 1000000
        tested.append((px, lang, source))
    tested.sort()
    ks = 0
    sat = {}
    for i, (px, lang, source) in enumerate(tested, start=1):
        ok = Fraction(px, 10**6) <= Fraction(i, 10 * m) / Fraction(
            h_x, 1 << 20
        )
        sat[(lang, source)] = (px, i, ok)
        if ok:
            ks = i
    got = {
        (r.lang, r.source): r
        for r in STAGED["benjamini_yekutieli_fdr_exact"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(sat)
    for key, (px, i, ok) in sat.items():
        g = got[key]
        assert (g.p_x, g.rank, g.m, g.h_x) == (px, i, m, h_x), key
        assert g.satisfied == ok, key
        assert g.rejected == (i <= ks), key
    assert any(r.rejected for r in got.values())
    assert not all(r.rejected for r in got.values())
    # the step-up hole case (rejected despite an unsatisfied own
    # threshold) is fixture-dependent; the hypothesis property suite
    # proves it on random p-vectors (test_round16_properties.py)


def test_mcnemar_matches_contingency_replay(spark):
    """Contingency cells re-derived per doc with hashlib; the
    significance verdict re-decided with exact Fractions against
    chi2_0.05(1) = 3841/1000."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    ).collect()
    cm = defaultdict(lambda: [0, 0, 0, 0, 0])
    for r in rows:
        y = _md5int(r.text) % 1000 < 500
        pa = y != (_md5int(f"A#{r.doc_id}") % 1000 < 300)
        pb = y != (_md5int(f"B#{r.doc_id}") % 1000 < 400)
        c = cm[r.lang]
        c[0] += 1
        c[1] += pa == y and pb == y
        c[2] += pa == y and pb != y
        c[3] += pa != y and pb == y
        c[4] += pa != y and pb != y
    got = {
        r.lang: r
        for r in STAGED["mcnemar_paired_exact"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(cm)
    for lang, (n, br, a, b, bw) in cm.items():
        g = got[lang]
        assert (
            g.n, g.both_right, g.a_only, g.b_only, g.both_wrong
        ) == (n, br, a, b, bw), lang
        assert g.mcnemar_num == (a - b) ** 2
        if a + b:
            assert g.chi2_x1000 == 1000 * (a - b) ** 2 // (a + b)
            assert g.significant == (
                Fraction((a - b) ** 2, a + b) >= Fraction(3841, 1000)
            )
        else:
            assert g.chi2_x1000 == 0 and not g.significant
    assert any(r.significant for r in got.values()), (
        "planted 30%-vs-40% flip rates must be detectable"
    )


def test_kruskal_wallis_matches_sorted_midranks(spark):
    """Midranks re-derived by sorting the raw values and averaging
    tied rank blocks with Fractions; conservation and dominance
    order re-checked exactly."""
    rows = load_table(spark, SF_DIR, "events").select(
        "event_type", "value"
    ).collect()
    vals = sorted(
        (int(r.value * 100 // 1), r.event_type) for r in rows
    )
    # Fraction midrank per sorted position
    n_tot = len(vals)
    by_cents = defaultdict(int)
    for c, _ in vals:
        by_cents[c] += 1
    start = {}
    s = 0
    for c in sorted(by_cents):
        start[c] = s
        s += by_cents[c]
    rank_sum = defaultdict(Fraction)
    n = defaultdict(int)
    for c, et in vals:
        rank_sum[et] += Fraction(2 * start[c] + by_cents[c] + 1, 2)
        n[et] += 1
    got = {
        r.event_type: r
        for r in STAGED["kruskal_wallis_rank_exact"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(n)
    assert sum(r.rank_sum_x2 for r in got.values()) == n_tot * (
        n_tot + 1
    )
    order = sorted(
        n, key=lambda et: (rank_sum[et] / n[et], et)
    )
    for et in n:
        g = got[et]
        assert g.n == n[et]
        assert g.rank_sum_x2 == 2 * rank_sum[et]
        assert g.meanrank_x2_pm == (
            g.rank_sum_x2 * 10000 // g.n
        )
        assert g.mr_rank == order.index(et) + 1
        assert g.n_total == n_tot
    assert got[order[0]].tie_cube == sum(
        c**3 - c for c in by_cents.values()
    )


def test_wasserstein_matches_fraction_transport(spark):
    """W1 re-derived as the exact-Fraction integral of |ECDF gap|
    over the sorted union of observed points, per type pair."""
    rows = load_table(spark, SF_DIR, "events").select(
        "event_type", "value"
    ).collect()
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(int(r.value * 100 // 1))
    types = sorted(by_type)
    got = {
        (r.type_a, r.type_b): r
        for r in STAGED["wasserstein_1d_histogram_exact"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == {
        (a, b) for a in types for b in types if a < b
    }
    for (ta, tb), g in got.items():
        va, vb = sorted(by_type[ta]), sorted(by_type[tb])
        na, nb = len(va), len(vb)
        pts = sorted(set(va) | set(vb))
        w1 = Fraction(0)
        num = 0
        for x, x_next in zip(pts, pts[1:]):
            ca = sum(1 for v in va if v <= x)
            cb = sum(1 for v in vb if v <= x)
            gap = abs(ca * nb - cb * na)
            num += (x_next - x) * gap
            w1 += (x_next - x) * Fraction(gap, na * nb)
        assert (g.n_a, g.n_b) == (na, nb)
        assert g.w1_num == num, (ta, tb)
        assert Fraction(g.w1_num, na * nb) == w1
        assert g.w1_cents_x1000 == num * 1000 // (na * nb)
        # telescoping bound: transport cost <= full range
        assert num <= (pts[-1] - pts[0]) * na * nb


def test_chapman_matches_set_arithmetic(spark):
    """Captures rebuilt as Python sets of character 8-grams; the
    Chapman estimator identity and its graded error re-derived."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "lang", "source", "text"
    ).collect()
    caps = defaultdict(lambda: (set(), set()))
    for r in rows:
        half = int(r.source[3:]) % 2
        t = r.text
        grams = {
            t[i : i + 8] for i in range(max(len(t) - 7, 1))
        }
        caps[r.lang][half].update(grams)
    got = {
        r.lang: r
        for r in STAGED["capture_recapture_chapman_estimate"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(caps)
    for lang, (s1, s2) in caps.items():
        g = got[lang]
        n1, n2, m = len(s1), len(s2), len(s1 & s2)
        assert (g.n1, g.n2, g.m) == (n1, n2, m), lang
        assert g.n_true == len(s1 | s2)
        est = (n1 + 1) * (n2 + 1) // (m + 1) - 1
        assert g.chapman_est == est
        assert g.abs_err == abs(est - g.n_true)
        assert g.m > 0, "fixture must overlap or Chapman is vacuous"


def test_allen_census_matches_exhaustive_predicates(spark):
    """Relations re-decided by evaluating all 13 Allen predicate
    definitions directly (not a CASE ladder) and asserting exactly
    one holds per pair."""
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    ).collect()
    cust = {
        r.c_custkey: r.c_mktsegment
        for r in load_table(spark, SF_DIR, "customer").collect()
    }
    ends = defaultdict(lambda: None)
    for r in (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .collect()
    ):
        cur = ends[r.l_orderkey]
        ends[r.l_orderkey] = (
            r.l_shipdate if cur is None or r.l_shipdate > cur else cur
        )
    iv = defaultdict(list)
    for o in orders:
        e = ends[o.o_orderkey]
        if e is not None and e > o.o_orderdate:
            iv[o.o_custkey].append(
                (o.o_orderkey, o.o_orderdate, e)
            )

    def relations(sa, ea, sb, eb):
        return {
            "precedes": ea < sb,
            "meets": ea == sb,
            "overlaps": sa < sb < ea < eb,
            "finished_by": sa < sb and ea == eb,
            "contains": sa < sb and eb < ea,
            "starts": sa == sb and ea < eb,
            "equals": sa == sb and ea == eb,
            "started_by": sa == sb and eb < ea,
            "during": sb < sa and ea < eb,
            "finishes": sb < sa and ea == eb,
            "overlapped_by": sb < sa < eb < ea,
            "met_by": eb == sa,
            "preceded_by": eb < sa,
        }

    census = defaultdict(int)
    for ck, items in iv.items():
        items.sort()
        for i in range(len(items)):
            for j in range(i + 1, len(items)):
                _, sa, ea = items[i]
                _, sb, eb = items[j]
                rel = {
                    k for k, v in relations(sa, ea, sb, eb).items()
                    if v
                }
                assert len(rel) == 1, (sa, ea, sb, eb, rel)
                census[(cust[ck], rel.pop())] += 1
    got = {
        (r.c_mktsegment, r.relation): r
        for r in STAGED["allen_interval_relation_matrix"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(census)
    seg_tot = defaultdict(int)
    for (seg, _), n in census.items():
        seg_tot[seg] += n
    for key, n in census.items():
        g = got[key]
        assert g.n_pairs == n, key
        assert g.share_pm == n * 10000 // seg_tot[key[0]]
    assert len({k[1] for k in census}) >= 5, (
        "fixture must exercise a diverse relation census"
    )


def test_winnowing_matches_direct_rightmost_min(spark):
    """Selection replayed with the DIRECT winnowing rule — min hash
    per window, ties to the RIGHTMOST position — instead of the
    composite min(h * 2^20 + (2^20-1-pos)) key."""
    k, w, hmod = 5, 4, 1 << 30
    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    )
    got = {
        r.doc_id: r
        for r in STAGED["winnowing_fingerprint_density_certified"](
            spark, SF_DIR
        ).collect()
    }
    n_with_windows = 0
    for d in docs:
        n = len(d.text) - k + 1
        if n < w:
            assert d.doc_id not in got
            continue
        n_with_windows += 1
        h = [
            _md5int(d.text[p : p + k]) % hmod for p in range(n)
        ]
        selected = set()
        for end in range(w - 1, n):
            window = list(range(end - w + 1, end + 1))
            mh = min(h[p] for p in window)
            pick = max(p for p in window if h[p] == mh)
            selected.add(pick)
        r = got[d.doc_id]
        assert r.n_grams == n
        assert r.n_windows == n - w + 1
        assert r.n_selected == len(selected)
        assert r.density_pm == len(selected) * 10000 // (n - w + 1)
        assert r.lower_bound_ok and (
            len(selected) * w >= n - w + 1
        )
        assert r.upper_bound_ok and (
            len(selected) <= n - w + 1
        )
    assert n_with_windows == len(got) > 0


def test_winnowing_exact_past_old_2_20_boundary(spark):
    """The rightmost-tie composite key is exact PAST the old 2^20
    position bound (widened to 2^32 in round 17), proven on the
    factored tie-key stage over synthetic grams — 1.05M positions,
    period-2 hash ties near the 2^30 hash ceiling: every window holds
    a two-way tie at maximal h, the worst case for both tie ordering
    and int64 headroom — replayed against the direct rule at every
    position, including all positions > 2^20. (Synthetic grams, not a
    1M-char string: substring-based gram extraction is O(len^2) bytes
    per doc; the key stage is where the bound lives.)"""
    import pyspark.sql.functions as F

    from sparkksqldbbenchmark_spark.plans.round17_queries import (
        _WIN_W,
        _winnow_from_grams,
    )

    w = _WIN_W
    n = (1 << 20) + 5000
    hmax = (1 << 30) - 1
    grams = spark.range(1, n + 1).select(
        F.lit("big").alias("doc_id"),
        F.lit(n).cast("long").alias("n_grams"),
        F.col("id").alias("pos"),
        (F.lit(hmax) - F.col("id") % 2).alias("h"),
    )
    row = _winnow_from_grams(grams, w).collect()[0]
    hs = {p: hmax - p % 2 for p in range(1, n + 1)}
    selected = set()
    for end in range(w, n + 1):
        window = range(end - w + 1, end + 1)
        mh = min(hs[p] for p in window)
        selected.add(max(p for p in window if hs[p] == mh))
    assert row.n_grams == n
    assert row.n_windows == n - w + 1
    assert row.n_selected == len(selected)
    assert max(selected) > (1 << 20)  # picks past the old bound
    assert row.density_pm == len(selected) * 10000 // (n - w + 1)
    assert row.lower_bound_ok and row.upper_bound_ok


def test_winnowing_position_bound_guard_fails_loud(spark):
    """Both engines ABORT (assert_true / error()) on a doc whose gram
    positions would overflow the composite key's position field,
    instead of silently mis-ordering ties — proven against a small
    pbase since a real 2^32-char string cannot be built."""
    import duckdb
    import pytest

    from sparkksqldbbenchmark_spark.plans.round17_queries import (
        _WIN_K,
        _WIN_W,
        _winnow_oracle,
        _winnow_plan,
    )

    text = "ab" * 64  # 128 chars; 124 gram positions > pbase-1 = 63
    df = spark.createDataFrame(
        [("big", text)], "doc_id string, text string"
    )
    with pytest.raises(Exception, match="position bound"):
        _winnow_plan(df, _WIN_K, _WIN_W, pbase=64).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT 'big' AS doc_id, "
        f"repeat('ab', 64) AS text"
    )
    with pytest.raises(Exception, match="position bound"):
        con.execute(
            _winnow_oracle(_WIN_K, _WIN_W, pbase=64)
        ).fetchall()
    # and the small pbase is NOT the reason the fixture corpus
    # passes: the guard admits docs within bound
    con2 = duckdb.connect()
    con2.execute(
        "CREATE VIEW documents AS SELECT 'ok' AS doc_id, "
        "repeat('ab', 16) AS text"
    )
    assert con2.execute(
        _winnow_oracle(_WIN_K, _WIN_W, pbase=64)
    ).fetchall()


def _lev_le1(a: str, b: str) -> bool:
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) == 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1 :]


def test_edit1_join_complete_vs_all_pairs(spark):
    """Pair set re-derived by the O(V^2) all-pairs scan with a
    direct distance-<=1 check — proves the deletion-signature
    equi-join missed NOTHING at sf0.001."""
    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("text")
        .collect()
    )
    base = set()
    for r in docs:
        for wd in r.text.split(" "):
            if len(wd) >= 3:
                base.add(wd)
    planted = set()
    for wd in base:
        cut = _md5int(wd) % len(wd)
        planted.add(wd[:cut] + wd[cut + 1 :])
    vocab = {
        wd: (wd in base) for wd in base | planted
    }
    words = sorted(vocab)
    expected = set()
    for i in range(len(words)):
        for j in range(i + 1, len(words)):
            if _lev_le1(words[i], words[j]):
                expected.add(
                    (
                        words[i],
                        words[j],
                        vocab[words[i]],
                        vocab[words[j]],
                    )
                )
    got = {
        (r.word_a, r.word_b, r.a_in_corpus, r.b_in_corpus)
        for r in STAGED["edit1_neighborhood_join_complete"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected and len(expected) > 0


def test_bpe_supersteps_match_sequential_greedy(spark):
    """Merges replayed with the TRUE sequential left-to-right scan
    per word — the loop the run-parity windows replace."""
    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("text")
        .collect()
    )
    freq = Counter()
    for r in docs:
        for wd in r.text.split(" "):
            if len(wd) >= 1:
                freq[wd] += 1
    syms = {wd: list(wd) for wd in freq}
    expected = []
    for step in range(1, 4):
        cnt = Counter()
        for wd, f in freq.items():
            s = syms[wd]
            for i in range(len(s) - 1):
                cnt[(s[i], s[i + 1])] += f
        (ml, mr), mc = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0])
        )
        for wd, s in syms.items():
            new = []
            i = 0
            while i < len(s):
                if (
                    i + 1 < len(s)
                    and s[i] == ml
                    and s[i + 1] == mr
                ):
                    new.append(ml + mr)
                    i += 2
                else:
                    new.append(s[i])
                    i += 1
            syms[wd] = new
        vocab = {t for s in syms.values() for t in s}
        ntok = sum(f * len(syms[wd]) for wd, f in freq.items())
        expected.append((step, ml, mr, mc, len(vocab), ntok))
    got = sorted(
        (
            r.step,
            r.merge_left,
            r.merge_right,
            r.merge_count,
            r.n_vocab,
            r.n_tokens,
        )
        for r in STAGED["bpe_merge_supersteps_greedy"](
            spark, SF_DIR
        ).collect()
    )
    assert got == expected


def _wshingles(text: str, n: int):
    toks = text.split()
    return {
        " ".join(toks[i : i + n])
        for i in range(max(len(toks) - n + 1, 1))
    }


def test_seasonal_theil_sen_matches_fraction_walk(spark):
    """Weekday medians re-picked from sorted lists, residual slopes
    re-derived as exact Fractions, and the median slope selected by
    Fraction order (the direct form the 2^40 key embedding
    replaces)."""
    import math

    rows = load_table(spark, SF_DIR, "events").select(
        "event_type", "ts", "value"
    ).collect()
    daily = defaultdict(int)
    for r in rows:
        daily[(r.event_type, r.ts.date())] += math.floor(
            r.value * 100
        )
    by_dow = defaultdict(list)
    for (et, d), cents in daily.items():
        by_dow[(et, d.toordinal() % 7)].append(cents)
    # toordinal of 1970-01-01 is 719163; 719163 % 7 == 4, and the
    # oracle's (d - epoch) % 7 == (toordinal - 719163) % 7
    med = {
        k: sorted(v)[(len(v) - 1) // 2] for k, v in by_dow.items()
    }
    amp = defaultdict(list)
    for (et, dow), m in med.items():
        amp[et].append(m)
    resid = defaultdict(list)
    for (et, d), cents in sorted(daily.items()):
        dow = d.toordinal() % 7
        resid[et].append(cents - med[(et, dow)])
    S = 1099511627776

    def tkey(num, den):
        q, rem = divmod(abs(num) * S, den)
        return q if num >= 0 else -q

    got = {
        r.event_type: r
        for r in STAGED["seasonal_theil_sen_residual_slope"](
            spark, SF_DIR
        ).collect()
    }
    for et, rs in resid.items():
        fr = []
        for i in range(len(rs)):
            for jj in range(i + 1, len(rs)):
                fr.append((Fraction(rs[jj] - rs[i], jj - i),
                           rs[jj] - rs[i], jj - i))
        fr.sort(key=lambda t: t[0])
        _, mnum, mden = fr[(len(fr) - 1) // 2]
        g = got[et]
        assert g.n_pairs == len(fr)
        assert g.median_resid_slope_key == tkey(mnum, mden)
        assert g.n_rising_pairs == sum(
            1 for f, _, _ in fr if f > 0
        )
        assert g.n_falling_pairs == sum(
            1 for f, _, _ in fr if f < 0
        )
        assert g.seasonal_amplitude_cents == (
            max(amp[et]) - min(amp[et])
        )
    # the dow mapping must matter: at least two weekday medians
    # differ for some type, or the composition graded nothing
    assert any(max(v) > min(v) for v in amp.values())


def test_interleave_k6_matches_protocol_replay(spark):
    """The 6-position draft replayed pick by pick in plain Python
    with three independent coins; both teams must win at least one
    first pick across sources."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars", "text"
    ).collect()
    by_src = defaultdict(list)
    for r in rows:
        by_src[r.source].append(r)
    got = defaultdict(dict)
    for r in STAGED["team_draft_interleave_k6_generated"](
        spark, SF_DIR
    ).collect():
        got[r.source][r.pos] = r
    first_teams = set()
    for src, docs in by_src.items():
        sl = sorted(docs, key=lambda r: r.doc_id)[:40]
        q = {r.doc_id: _md5int(r.text) % 1000 for r in sl}
        ra = [
            r.doc_id
            for r in sorted(
                sl, key=lambda r: (-r.n_chars, r.doc_id)
            )
        ]
        rb = [
            r.doc_id
            for r in sorted(
                sl, key=lambda r: (-q[r.doc_id], r.doc_id)
            )
        ]
        teams = []
        for rnd in (1, 3, 5):
            c = _md5int(f"{src}#coin{rnd}") % 2
            teams += [c, 1 - c]
        picked = []
        for pos, team in enumerate(teams, start=1):
            ranking = ra if team == 0 else rb
            pick = next(d for d in ranking if d not in picked)
            picked.append(pick)
            g = got[src][pos]
            assert g.doc_id == pick, (src, pos)
            assert g.team == team, (src, pos)
            assert g.clicked == (q[pick] >= 500), (src, pos)
        first_teams.add(teams[0])
    assert first_teams == {0, 1}


def test_mmr_lambda_sweep_matches_greedy_replay(spark):
    """Each lambda's greedy selection replayed in plain Python with
    true Jaccard micros; the readout sums and the halving-rule
    lambda re-derived independently."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    by_src = defaultdict(list)
    shing = {}
    rel = {}
    for r in rows:
        q = _md5int(r.text) % 1000
        by_src[r.source].append((q, r.doc_id))
        shing[r.doc_id] = _wshingles(r.text, 3)
        rel[r.doc_id] = q * 1000

    def jac(a, b):
        sa, sb = shing[a], shing[b]
        return (len(sa & sb) * 1000000) // max(len(sa | sb), 1)

    sums = {}
    for w in (0, 1, 3, 9):
        tot_rel = tot_msim = nsrc = 0
        for src, docs in by_src.items():
            cand = [
                d
                for _, d in sorted(
                    docs, key=lambda t: (-t[0], t[1])
                )[:6]
            ]
            picked = []
            for _rnd in range(3):
                best = None
                for d in cand:
                    if d in picked:
                        continue
                    msim = max(
                        (jac(d, p) for p in picked), default=0
                    )
                    score = rel[d] - w * msim
                    k = (-score) * 8589934592 + d
                    if best is None or k < best[0]:
                        best = (k, d, msim)
                picked.append(best[1])
                tot_rel += rel[best[1]]
                tot_msim += best[2]
            nsrc += 1
        sums[w] = (nsrc, tot_rel, tot_msim)
    m0 = sums[0][2]
    qual = [w for w in (1, 3, 9) if sums[w][2] * 2 <= m0]
    plam = min(qual) if qual else 9
    got = {
        r.lam: r
        for r in STAGED["mmr_lambda_sweep_learned"](
            spark, SF_DIR
        ).collect()
    }
    for w in (0, 1, 3, 9):
        g = got[w]
        assert (
            g.n_sources,
            g.sum_rel_micros,
            g.sum_msim_micros,
        ) == sums[w], w
        assert g.chosen == (w == plam), w


def test_curation_v5_matches_python_pipeline(spark):
    """The five-stage v5 chain re-run in plain Python: stages 1-4 as
    the v4 witness (stack-based PAV, Fraction keep cut, canonical
    dedup, exact 5-shingle decontam), then the density-greedy
    knapsack replayed with TRUE Fraction densities instead of the
    2^40 floor key."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "lang", "text"
    ).collect()
    pool = [r for r in rows if _md5int(str(r.doc_id)) % 10 != 0]
    eval_docs = [
        r for r in rows if _md5int(str(r.doc_id)) % 10 == 0
    ]
    eval_sh = set()
    for r in eval_docs:
        eval_sh |= _wshingles(r.text, 5)
    doc_stats = {}
    for r in pool:
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
        rb = 19 - min(19, (ns - nd) * 1000000 // ns // 50000)
        doc_stats[r.doc_id] = (
            r.source,
            r.text,
            len(toks),
            rb,
            1 if r.lang == "en" else 0,
        )
    agg = defaultdict(lambda: [0, 0])
    for _, _, _, rb, y in doc_stats.values():
        agg[rb][0] += 1
        agg[rb][1] += y
    pools = []
    for rb in sorted(agg):
        n, k = agg[rb]
        pools.append(([rb], k, n))
        while len(pools) > 1 and Fraction(
            pools[-2][1], pools[-2][2]
        ) > Fraction(pools[-1][1], pools[-1][2]):
            rbs2, k2, n2 = pools.pop()
            rbs1, k1, n1 = pools.pop()
            pools.append((rbs1 + rbs2, k1 + k2, n1 + n2))
    fitted = {}
    for rbs, k, n in pools:
        for rb in rbs:
            fitted[rb] = Fraction(k, n)
    base = Fraction(
        sum(v[4] for v in doc_stats.values()), len(doc_stats)
    )
    kept = {
        did: (src, text, nw)
        for did, (src, text, nw, rb, _) in doc_stats.items()
        if fitted[rb] >= base
    }
    canon = {}
    for did, (src, text, nw) in sorted(kept.items()):
        canon.setdefault(
            hashlib.md5(text.encode()).hexdigest(), did
        )
    deduped = {
        did: v
        for did, v in kept.items()
        if canon[hashlib.md5(v[1].encode()).hexdigest()] == did
    }
    clean, dropped = {}, Counter()
    for did, (src, text, nw) in deduped.items():
        if _wshingles(text, 5) & eval_sh:
            dropped[src] += 1
        else:
            clean[did] = (src, text, nw)
    totals, counts = Counter(), Counter()
    for src, _, nw in clean.values():
        totals[src] += nw
        counts[src] += 1
    # stage 5: density greedy with TRUE Fraction densities
    items = [
        (did, src, _md5int(text) % 1000 + 1, nw)
        for did, (src, text, nw) in clean.items()
    ]
    budget = sum(c for _, _, _, c in items) // 2
    items.sort(key=lambda t: (-Fraction(t[2], t[3]), t[0]))
    sel = Counter()
    sel_tok = Counter()
    sel_val = Counter()
    cum = 0
    for did, src, v, c in items:
        if cum + c > budget:
            break
        cum += c
        sel[src] += 1
        sel_tok[src] += c
        sel_val[src] += v
    got = {
        r.source: r
        for r in STAGED["curation_pipeline_v5_composed"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(totals)
    for src in totals:
        g = got[src]
        assert (
            g.docs_kept,
            g.docs_decontaminated,
            g.total_tokens,
            g.docs_selected,
            g.selected_tokens,
            g.selected_value,
        ) == (
            counts[src],
            dropped.get(src, 0),
            totals[src],
            sel.get(src, 0),
            sel_tok.get(src, 0),
            sel_val.get(src, 0),
        ), src
    assert 0 < sum(sel.values()) < len(clean)
