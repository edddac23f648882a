"""Property-based suites for the round-16 staged cohort: each staged
row leans on an algebraic device (a prefix-sum identity, an integer
order embedding, an approximation bound); hypothesis drives the device
itself across random inputs, independent of Spark and of the fixture
corpus — the third witness class alongside the value-hash oracle
(tests/golden.py) and the brute-force replay
(tests/test_round16_staged.py).
"""

from __future__ import annotations

from fractions import Fraction

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(10**6), max_value=10**6),
        min_size=1,
        max_size=60,
    )
)
def test_cusum_prefix_identity(rs):
    """seasonal_cusum_residual_flags: the prefix-sum spelling
    S_t = P_t - min(0, min_{i<=t} P_i) equals the nonlinear
    recurrence S_t = max(0, S_{t-1} + r_t) on every series."""
    s = 0
    p = 0
    minp = 0
    for r in rs:
        s = max(0, s + r)
        p += r
        minp = min(minp, p)
        assert s == p - min(0, minp)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(10**9), max_value=10**9),
            st.integers(min_value=1, max_value=(1 << 20) - 1),
        ),
        min_size=2,
        max_size=30,
    )
)
def test_truncating_key_is_strict_order_embedding(fracs):
    """theil_sen_slope_exact: num*2^40 truncated-div den orders
    exactly like the true fractions whenever den < 2^20 — distinct
    fractions differ by > 2^-40, so truncation cannot reorder or
    collide them."""
    K = 1 << 40
    for na, da in fracs:
        for nb, db in fracs:
            fa, fb = Fraction(na, da), Fraction(nb, db)
            ka = int(Fraction(na * K, da))
            kb = int(Fraction(nb * K, db))
            if fa < fb:
                assert ka < kb
            elif fa == fb:
                assert ka == kb


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=1000),  # value
            st.integers(min_value=1, max_value=50),  # cost
        ),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=0, max_value=200),
)
def test_density_greedy_additive_bound_vs_brute_force(items, budget):
    """density_greedy_budget_certified: greedy prefix value +
    max item value >= fractional OPT >= integer OPT, with the
    integer OPT computed by brute force on small instances."""
    order = sorted(
        enumerate(items),
        key=lambda t: (-Fraction(t[1][0], t[1][1]), t[0]),
    )
    cum_v = cum_c = 0
    nxt = None
    for _, (v, c) in order:
        if cum_c + c <= budget:
            cum_c += c
            cum_v += v
        else:
            nxt = (v, c)
            break
    frac_opt = Fraction(cum_v) + (
        Fraction((budget - cum_c) * nxt[0], nxt[1]) if nxt else 0
    )
    best = 0
    for mask in range(1 << len(items)):
        tv = tc = 0
        for i, (v, c) in enumerate(items):
            if mask >> i & 1:
                tv += v
                tc += c
        if tc <= budget:
            best = max(best, tv)
    max_v = max(v for v, _ in items)
    assert frac_opt >= best
    assert cum_v + max_v >= frac_opt


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1000),
            st.integers(min_value=0, max_value=10**6),
        ),
        min_size=2,
        max_size=15,
    )
)
def test_knee_cross_product_orders_chord_distances(pts):
    """pareto_knee_maxcross: with the chord fixed, |cross((b-a),
    (p-a))| orders points exactly like their true distance to the
    line through a and b."""
    pts = sorted(set(pts))
    a, b = pts[0], pts[-1]
    chord2 = (b[0] - a[0]) ** 2 + (b[1] - a[1]) ** 2
    if chord2 == 0:
        return

    def cross(p):
        return abs(
            (b[0] - a[0]) * (p[1] - a[1])
            - (b[1] - a[1]) * (p[0] - a[0])
        )

    def dist2(p):
        return Fraction(cross(p) ** 2, chord2)

    for p in pts:
        for q in pts:
            if cross(p) < cross(q):
                assert dist2(p) < dist2(q)
            elif cross(p) == cross(q):
                assert dist2(p) == dist2(q)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=400),  # n per bin
            st.integers(min_value=0, max_value=400),  # k per bin
        ).map(lambda t: (max(t), min(t))),
        min_size=2,
        max_size=20,
    ),
    st.integers(min_value=2, max_value=100),
)
def test_rate_gap_merge_threshold_monotone(bins, gd):
    """supervised_discretization_merge_sweep: loosening the gap
    threshold (smaller gd) can only MERGE MORE adjacent pairs, so the
    island count is monotone in the threshold — the property a
    threshold sweep relies on."""

    def islands(gd_):
        count = 0
        for i, (n, k) in enumerate(bins):
            if i == 0:
                merged = False
            else:
                n_lo, k_lo = bins[i - 1]
                gap = k_lo * n - k * n_lo
                merged = (
                    n_lo == 0
                    or n == 0
                    or gd_ * abs(gap) < n_lo * n
                )
            if not merged:
                count += 1
        return count

    assert islands(max(2, gd // 2)) <= islands(gd)
    total_islands = islands(gd)
    assert 1 <= total_islands <= len(bins)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=1000),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=2, max_value=20),
)
def test_bh_stepup_rejects_superset_of_stepdown(ps, ad):
    """benjamini_hochberg_fdr_stepup: on every p-vector the step-up
    rejection set is the prefix 1..k* (k* = LARGEST satisfied rank),
    which contains the step-down set (stop at the FIRST unsatisfied
    rank) — and strictly contains it exactly when the satisfied set
    has a hole below k*."""
    m = len(ps)
    ranked = sorted(ps)
    sat = [
        ad * p * m <= (i + 1) * 1000 for i, p in enumerate(ranked)
    ]
    kstar = max(
        (i + 1 for i, s in enumerate(sat) if s), default=0
    )
    stepup = {i + 1 for i in range(m) if i + 1 <= kstar}
    stepdown = set()
    for i, s in enumerate(sat):
        if not s:
            break
        stepdown.add(i + 1)
    assert stepdown <= stepup
    holes = any(not sat[i] for i in range(kstar))
    assert (stepdown != stepup) == holes


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10**6),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=2, max_value=20),
)
def test_by_rejections_subset_of_bh_and_conservative(ps, ad):
    """benjamini_yekutieli_fdr_exact: on every p-vector (i) the dyadic
    harmonic constant h_x/2^20 dominates the true H_m term by term,
    (ii) BY's rejection set under the dyadic constant is a subset of
    the exact-rational BY set (conservative, never anticonservative),
    and (iii) both are subsets of BH's set (the dependency penalty
    only removes rejections)."""
    m = len(ps)
    h_x = sum(((1 << 20) + j - 1) // j for j in range(1, m + 1))
    h_true = sum(Fraction(1, j) for j in range(1, m + 1))
    assert Fraction(h_x, 1 << 20) >= h_true

    ranked = sorted(ps)

    def kstar(thresh_ok):
        return max(
            (i + 1 for i in range(m) if thresh_ok(i + 1, ranked[i])),
            default=0,
        )

    k_bh = kstar(lambda i, p: ad * p * m <= i * 10**6)
    k_by_dyadic = kstar(
        lambda i, p: ad * p * m * h_x <= i * 10**6 * (1 << 20)
    )
    k_by_true = kstar(
        lambda i, p: Fraction(ad * p * m, 10**6) * h_true
        <= Fraction(i)
    )
    assert k_by_dyadic <= k_by_true <= k_bh


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=0, max_value=4),
        ),
        min_size=2,
        max_size=300,
    )
)
def test_doubled_midranks_conserve_and_match_sorted_average(pairs):
    """kruskal_wallis_rank_exact: the closed-form doubled midrank
    2s+c+1 per tie block equals twice the average of the block's
    positional ranks, and group rank sums conserve N(N+1)."""
    from collections import defaultdict

    vals = sorted(pairs)
    by_v = defaultdict(int)
    for v, _ in vals:
        by_v[v] += 1
    start = {}
    s = 0
    for v in sorted(by_v):
        start[v] = s
        s += by_v[v]
    # closed form vs positional average
    for v, c in by_v.items():
        pos = range(start[v] + 1, start[v] + c + 1)
        assert 2 * start[v] + c + 1 == 2 * sum(pos) / c * 1
        assert (2 * sum(pos)) % c == 0
        assert 2 * start[v] + c + 1 == 2 * sum(pos) // c
    r2 = defaultdict(int)
    for v, g in vals:
        r2[g] += 2 * start[v] + by_v[v] + 1
    n = len(vals)
    assert sum(r2.values()) == n * (n + 1)


@settings(max_examples=400, deadline=None)
@given(
    st.lists(
        st.sampled_from("ab"), min_size=2, max_size=40
    ),
    st.sampled_from(["aa", "ab", "ba", "bb"]),
)
def test_bpe_run_parity_equals_sequential_greedy(seq, pair):
    """bpe_merge_supersteps_greedy: the run-parity window rule
    (keep even offsets of each maximal run of consecutive match
    positions) selects EXACTLY the positions the sequential greedy
    left-to-right scan merges, on every sequence."""
    a, b = pair[0], pair[1]
    greedy = []
    i = 0
    while i < len(seq):
        if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
            greedy.append(i)
            i += 2
        else:
            i += 1
    matches = [
        i
        for i in range(len(seq) - 1)
        if seq[i] == a and seq[i + 1] == b
    ]
    parity = []
    run_start = None
    prev = None
    for m in matches:
        if prev is None or m != prev + 1:
            run_start = m
        if (m - run_start) % 2 == 0:
            parity.append(m)
        prev = m
    assert parity == greedy


@settings(max_examples=400, deadline=None)
@given(
    st.text(alphabet="abc", min_size=1, max_size=8),
    st.integers(min_value=0, max_value=10),
    st.sampled_from("abc"),
    st.sampled_from(["same", "sub", "ins", "del"]),
)
def test_deletion_signatures_complete_at_distance_1(
    word, pos, ch, op
):
    """edit1_neighborhood_join_complete: any two strings at
    Levenshtein distance <= 1 share a deletion-neighborhood
    signature (self + single deletions) — the FastSS completeness
    theorem the equi-join's recall rests on."""
    if op == "same":
        other = word
    elif op == "sub":
        p = pos % len(word)
        other = word[:p] + ch + word[p + 1 :]
    elif op == "ins":
        p = pos % (len(word) + 1)
        other = word[:p] + ch + word[p:]
    else:
        p = pos % len(word)
        other = word[:p] + word[p + 1 :]

    def sigs(s):
        return {s} | {
            s[:i] + s[i + 1 :] for i in range(len(s))
        }

    assert sigs(word) & sigs(other)


def _winnow_select(text: str, k: int, w: int):
    """Direct winnowing: per window of w k-gram hashes, select the
    min hash with ties to the rightmost position. Returns the set of
    selected (gram, hash) fingerprints (position-free)."""
    import hashlib as _h

    n = len(text) - k + 1
    hs = [
        int(_h.md5(text[p : p + k].encode()).hexdigest()[:15], 16)
        % (1 << 30)
        for p in range(n)
    ]
    out = set()
    for end in range(w - 1, n):
        window = range(end - w + 1, end + 1)
        mh = min(hs[p] for p in window)
        pick = max(p for p in window if hs[p] == mh)
        out.add((text[pick : pick + k], hs[pick]))
    return out


@settings(max_examples=150, deadline=None)
@given(
    st.text(alphabet="abcd", min_size=8, max_size=20),
    st.text(alphabet="abcd", min_size=0, max_size=12),
    st.text(alphabet="abcd", min_size=0, max_size=12),
    st.text(alphabet="abcd", min_size=0, max_size=12),
)
def test_winnowing_guarantee_shared_substring_shares_fingerprint(
    common, pre_a, post_a, pre_b
):
    """winnowing_fingerprint_density_certified: the
    Schleimer/Wilkerson/Aiken guarantee — any two documents sharing
    a substring of length >= w + k - 1 share at least one selected
    fingerprint, BECAUSE selection is a local function of each
    window. k=5, w=4: common is >= 8 = w + k - 1 chars."""
    k, w = 5, 4
    doc_a = pre_a + common + post_a
    doc_b = pre_b + common + pre_a  # reuse as unrelated suffix
    fa = _winnow_select(doc_a, k, w)
    fb = _winnow_select(doc_b, k, w)
    # both docs contain `common`, whose k-gram windows are long
    # enough to contain one FULL window of w hashes -> the rightmost-
    # min rule picks the same (gram, hash) inside it on both sides
    assert fa & fb, (doc_a, doc_b)
