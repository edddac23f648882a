"""Invariant tests for the round-13 staged cohort, beyond the
value-hash oracle (tests/golden.py): each novel operator's
result is re-derived by an INDEPENDENT brute-force twin in plain
Python over the collected slice — a second witness sharing none of
the SQL machinery, the standard every graduated cohort carries.
Where the staged query uses an algebraic shortcut (the CUSUM
prefix-sum identity, the pairwise-energy moment identity, the
rank-sum AUC), the witness runs the DIRECT form the shortcut
replaces — the strongest possible cross-check.

(null_scalar_breadth_suite, csv_escape_quote_matrix, and
grouping_id_bitmask_report grade CASE-spelled / relational oracles
that are already independent derivations — the suite convention of
prior cohorts.)
"""

from __future__ import annotations

import hashlib
import math

import sparkksqldbbenchmark_spark.plans.round13_queries  # noqa: F401
import sparkksqldbbenchmark_spark.plans.round14_queries  # noqa: F401
from sparkksqldbbenchmark_spark.catalog import load_table
from sparkksqldbbenchmark_spark.plans.registry import ORACLE as STAGED_ORACLE
from sparkksqldbbenchmark_spark.plans.registry import QUERIES as STAGED

# the full round-13 cohort is graduated post-round-15-rotation: the 42
# round-13 graduates live in round13_queries, the 21 holdbacks in
# round14_queries -- all resolve through the registry

SF_DIR = "/root/testdata/sf0.001"


def _events(spark, *cols):
    return load_table(spark, SF_DIR, "events").select(*cols).collect()


def _md5int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _cents(v: float) -> int:
    return math.floor(v * 100)


def test_max_drawdown_matches_direct_peak_scan(spark):
    """Per-user max drawdown re-derived by the DIRECT quadratic
    definition (max over pairs i<=j of cents_i - cents_j in time
    order) — the form the prefix-max identity replaces."""
    rows = _events(spark, "user_id", "ts", "event_id", "value")
    series: dict[int, list[int]] = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id)):
        series.setdefault(r.user_id, []).append(_cents(r.value))
    per_user = {}
    for u, vals in series.items():
        best = 0
        for i in range(len(vals)):
            for j in range(i, len(vals)):
                best = max(best, vals[i] - vals[j])
        per_user[u] = best
    got = STAGED["max_drawdown_summary"](spark, SF_DIR).collect()[0]
    assert got.n_users == len(per_user)
    assert got.worst_dd == max(per_user.values())
    assert got.total_dd == sum(per_user.values())
    assert got.n_over_100 == sum(1 for v in per_user.values() if v > 10000)
    assert got.n_over_400 == sum(1 for v in per_user.values() if v > 40000)


def test_cusum_matches_direct_nonlinear_recurrence(spark):
    """The staged query computes CUSUM via the prefix-sum/running-min
    identity; this witness runs the textbook NONLINEAR recurrence
    S_t = max(0, S_{t-1} + (x_t - k)) directly."""
    rows = _events(spark, "user_id", "ts", "event_id", "value")
    series: dict[int, list[int]] = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id)):
        series.setdefault(r.user_id, []).append(_cents(r.value))
    n_points = 0
    max_s = 0
    n_flags = 0
    users_flagged = set()
    for u, vals in series.items():
        s = 0
        for x in vals:
            s = max(0, s + (x - 25000))
            n_points += 1
            max_s = max(max_s, s)
            if s > 500000:
                n_flags += 1
                users_flagged.add(u)
    got = STAGED["cusum_drift_flags"](spark, SF_DIR).collect()[0]
    assert (got.n_points, got.max_cusum, got.n_flags,
            got.n_users_flagged) == (
        n_points, max_s, n_flags, len(users_flagged)
    )


def test_runlengths_match_direct_streak_walk(spark):
    rows = _events(spark, "user_id", "ts", "event_id", "value")
    series: dict[int, list[int]] = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id)):
        series.setdefault(r.user_id, []).append(_cents(r.value))
    stats: dict[int, list[int]] = {}  # sgn -> [n_runs, max, total]
    for vals in series.values():
        sgns = []
        for a, b in zip(vals, vals[1:]):
            d = b - a
            sgns.append(0 if d == 0 else (1 if d > 0 else -1))
        i = 0
        while i < len(sgns):
            j = i
            while j < len(sgns) and sgns[j] == sgns[i]:
                j += 1
            st = stats.setdefault(sgns[i], [0, 0, 0])
            st[0] += 1
            st[1] = max(st[1], j - i)
            st[2] += j - i
            i = j
    got = {
        r.sgn: (r.n_runs, r.max_run, r.total_len)
        for r in STAGED["delta_sign_runlength_stats"](
            spark, SF_DIR
        ).collect()
    }
    assert got == {s: tuple(v) for s, v in stats.items()}


def test_stickiness_matches_set_replay(spark):
    rows = _events(spark, "user_id", "ts")
    udays = {(r.user_id, r.ts.date()) for r in rows}
    days = sorted({d for _, d in udays})
    got = {
        r.day: (r.dau, r.mau28, r.stickiness_e6)
        for r in STAGED["stickiness_dau_mau"](spark, SF_DIR).collect()
    }
    import datetime

    for d in days:
        dau = sum(1 for u, dd in udays if dd == d)
        mau = len(
            {
                u
                for u, dd in udays
                if dd <= d and (d - dd) < datetime.timedelta(days=28)
            }
        )
        key = d.strftime("%Y-%m-%d")
        assert got[key] == (dau, mau, dau * 1000000 // mau)
    assert len(got) == len(days)


def test_path_trigrams_match_sequence_walk(spark):
    rows = _events(spark, "user_id", "ts", "event_id", "event_type")
    series: dict[int, list[str]] = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id)):
        series.setdefault(r.user_id, []).append(r.event_type)
    expected: dict[str, int] = {}
    for seq in series.values():
        for i in range(len(seq) - 2):
            p = ">".join(seq[i : i + 3])
            expected[p] = expected.get(p, 0) + 1
    got = {
        r.path: r.n
        for r in STAGED["event_path_trigrams"](spark, SF_DIR).collect()
    }
    assert got == expected


def test_rfm_quintiles_match_sorted_replay(spark):
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    ).collect()
    from collections import defaultdict

    last = {}
    freq = defaultdict(int)
    money = defaultdict(int)
    maxd = max(r.o_orderdate for r in orders)
    for r in orders:
        ck = r.o_custkey
        last[ck] = max(last.get(ck, r.o_orderdate), r.o_orderdate)
        freq[ck] += 1
        money[ck] += _cents(r.o_totalprice)
    cks = sorted(last)
    n = len(cks)

    def quintile(metric):
        ranked = sorted(cks, key=lambda c: (metric[c], c))
        return {
            c: ((i * 5) // n) + 1 for i, c in enumerate(ranked)
        }

    rq = quintile({c: (maxd - last[c]).days for c in cks})
    fq = quintile(freq)
    mq = quintile(money)
    expected: dict[tuple, list[int]] = {}
    for c in cks:
        key = (rq[c], fq[c], mq[c])
        agg = expected.setdefault(key, [0, 0])
        agg[0] += 1
        agg[1] += c
    got = {
        (r.r_quintile, r.f_quintile, r.m_quintile): (
            r.n_customers,
            r.custkey_sum,
        )
        for r in STAGED["rfm_segment_counts"](spark, SF_DIR).collect()
    }
    assert got == {k: tuple(v) for k, v in expected.items()}


def test_equi_depth_bounds_match_sorted_replay(spark):
    rows = _events(spark, "value")
    cents = sorted(_cents(r.value) for r in rows)
    n = len(cents)
    got = {
        r.bucket_id: (r.target_cum, r.boundary_cents, r.cum_at_boundary)
        for r in STAGED["equi_depth_partition_bounds"](
            spark, SF_DIR
        ).collect()
    }
    from collections import Counter

    cum = 0
    cum_by_val = {}
    for v, c in sorted(Counter(cents).items()):
        cum += c
        cum_by_val[v] = cum
    for i in range(1, 17):
        target = (i * n) // 16
        boundary = min(v for v, cm in cum_by_val.items() if cm >= target)
        assert got[i] == (target, boundary, cum_by_val[boundary])


def test_reservoir_bottomk_matches_hashlib_replay(spark):
    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "doc_id"
    ).collect()
    from collections import defaultdict

    by_src = defaultdict(list)
    for r in docs:
        by_src[r.source].append((_md5int(str(r.doc_id)), r.doc_id))
    got = {
        r.source: (r.n_docs, r.n_kept, r.kept_id_sum, r.boundary_ok)
        for r in STAGED["reservoir_bottomk_certified"](
            spark, SF_DIR
        ).collect()
    }
    for src, items in by_src.items():
        items.sort()
        kept = items[:8]
        dropped = items[8:]
        ok = (not dropped) or max(h for h, _ in kept) < min(
            h for h, _ in dropped
        )
        assert got[src] == (
            len(items),
            len(kept),
            sum(d for _, d in kept),
            ok,
        )


def test_kfold_and_undersample_match_hashlib_replay(spark):
    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "doc_id"
    ).collect()
    from collections import defaultdict

    by_src = defaultdict(list)
    for r in docs:
        by_src[r.source].append((_md5int(str(r.doc_id)), r.doc_id))
    expected = {}
    for src, items in by_src.items():
        items.sort()
        sizes = defaultdict(int)
        for i, _ in enumerate(items):
            sizes[i % 5] += 1
        bal = max(sizes.values()) - min(sizes.values()) <= 1
        for f, nn in sizes.items():
            expected[(src, f)] = (nn, bal)
    got = {
        (r.source, r.fold): (r.n_docs, r.balanced)
        for r in STAGED["stratified_kfold_assignment"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "label", "vec_id"
    ).collect()
    by_lbl = defaultdict(list)
    for r in emb:
        by_lbl[r.label].append((_md5int(str(r.vec_id)), r.vec_id))
    m = min(len(v) for v in by_lbl.values())
    got2 = {
        r.label: (r.n_orig, r.n_kept, r.kept_vec_sum, r.kept_equal)
        for r in STAGED["class_balanced_undersample"](
            spark, SF_DIR
        ).collect()
    }
    for lbl, items in by_lbl.items():
        items.sort()
        kept = items[:m]
        assert got2[lbl] == (
            len(items),
            m,
            sum(v for _, v in kept),
            True,
        )


def _emb(spark):
    return load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "label", "embedding"
    ).collect()


def _quant(vec):
    return [math.floor(float(x) * 1000) for x in vec]


def test_auc_matches_direct_pairwise_comparison(spark):
    """The staged query uses the rank-sum identity; this witness
    counts concordant / tied (pos, neg) pairs DIRECTLY:
    AUC = (#(pos>neg) + 0.5 #(pos==neg)) / (npos*nneg)."""
    rows = _emb(spark)
    scored = [
        (sum(q * q for q in _quant(r.embedding)), r.label >= 5)
        for r in rows
    ]
    pos = [s for s, p in scored if p]
    neg = [s for s, p in scored if not p]
    wins2 = 0  # doubled to stay integer
    for p in pos:
        for ng in neg:
            if p > ng:
                wins2 += 2
            elif p == ng:
                wins2 += 1
    got = STAGED["auc_rank_sum_exact"](spark, SF_DIR).collect()[0]
    assert (got.npos, got.nneg) == (len(pos), len(neg))
    assert got.u2 == wins2
    assert got.auc_e6 == (wins2 * 1000000) // (2 * len(pos) * len(neg))


def test_pairwise_energy_matches_direct_pair_enumeration(spark):
    """The staged query uses n·Q − ‖S‖²; this witness enumerates the
    O(n²) pairwise squared distances the identity replaces."""
    rows = _emb(spark)
    from collections import defaultdict

    by_lbl = defaultdict(list)
    for r in rows:
        by_lbl[r.label].append(_quant(r.embedding))
    got = {
        r.label: (r.n_vecs, r.pairwise_energy2, r.nonneg_ok)
        for r in STAGED["pairwise_energy_sufficient_stats"](
            spark, SF_DIR
        ).collect()
    }
    for lbl, vecs in by_lbl.items():
        direct = 0
        for i in range(len(vecs)):
            for j in range(i + 1, len(vecs)):
                direct += sum(
                    (a - b) ** 2 for a, b in zip(vecs[i], vecs[j])
                )
        assert got[lbl] == (len(vecs), direct, True)


def test_knn_loo_matches_numpy_argmax(spark):
    import numpy as np

    rows = _emb(spark)
    ids = np.array([r.vec_id for r in rows])
    labels = np.array([r.label for r in rows])
    q = np.array([_quant(r.embedding) for r in rows], dtype=np.int64)
    correct = {}
    total = {}
    for i in range(len(rows)):
        if ids[i] % 25 != 0:
            continue
        dots = q @ q[i]
        # exclude self; argmax with tie -> lowest cand id
        best, best_id = None, None
        for j in range(len(rows)):
            if ids[j] == ids[i]:
                continue
            d = int(dots[j])
            if (
                best is None
                or d > best
                or (d == best and ids[j] < best_id)
            ):
                best, best_id = d, ids[j]
        lbl = int(labels[i])
        total[lbl] = total.get(lbl, 0) + 1
        if int(labels[ids == best_id][0]) == lbl:
            correct[lbl] = correct.get(lbl, 0) + 1
    got = {
        r.label: (r.n_queries, r.n_correct)
        for r in STAGED["knn_loo_label_accuracy"](
            spark, SF_DIR
        ).collect()
    }
    assert got == {
        lbl: (n, correct.get(lbl, 0)) for lbl, n in total.items()
    }


def test_farthest_point_matches_python_traversal(spark):
    rows = _emb(spark)
    vecs = {r.vec_id: _quant(r.embedding) for r in rows}
    n2 = {vid: sum(x * x for x in v) for vid, v in vecs.items()}
    # step 1: max norm, tie lowest id
    c1 = min(n2, key=lambda v: (-n2[v], v))
    expected = [(1, c1, n2[c1])]
    chosen = [c1]

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(vecs[a], vecs[b]))

    mind = {v: d2(v, c1) for v in vecs}
    for step in (2, 3, 4):
        cand = {v: d for v, d in mind.items() if v not in chosen}
        ci = min(cand, key=lambda v: (-cand[v], v))
        expected.append((step, ci, cand[ci]))
        chosen.append(ci)
        if step < 4:
            for v in mind:
                mind[v] = min(mind[v], d2(v, ci))
    got = sorted(
        (r.step, r.vec_id, r.metric)
        for r in STAGED["farthest_point_init_quantized"](
            spark, SF_DIR
        ).collect()
    )
    assert got == expected


def test_ivf_cell_balance_matches_numpy_signs(spark):
    import numpy as np

    from sparkksqldbbenchmark_spark.llm import similarity

    planes = np.array(similarity.hyperplanes(5, 64))
    rows = _emb(spark)
    mat = np.array(
        [[float(x) for x in r.embedding] for r in rows]
    )
    # replicate the codegen fold order: sequential accumulation
    buckets = {}
    for row in mat:
        b = 0
        for i, p in enumerate(planes):
            acc = 0.0
            for k in range(64):
                acc += row[k] * p[k]
            if acc >= 0.0:
                b |= 1 << i
        buckets[b] = buckets.get(b, 0) + 1
    n = len(rows)
    ideal = (n + 31) // 32
    got = {
        r.bucket: (r.n_vecs, r.occupancy_e6)
        for r in STAGED["ivf_cell_balance_audit"](
            spark, SF_DIR
        ).collect()
    }
    assert got == {
        b: (c, c * 1000000 // ideal) for b, c in buckets.items()
    }


def test_suffix_lcp_matches_sorted_replay(spark):
    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "doc_id", "text"
    ).collect()
    from collections import defaultdict

    by_src = defaultdict(list)
    for r in docs:
        t = r.text
        for p in range(1, max(len(t) - 15, 0) + 1):
            by_src[r.source].append((t[p - 1 : p + 15], r.doc_id, p))
    got = {
        r.source: (r.n_suffixes, r.max_lcp, r.n_repeat_pairs, r.total_lcp)
        for r in STAGED["suffix_lcp_repeat_stats"](
            spark, SF_DIR
        ).collect()
    }
    for src, sufs in by_src.items():
        sufs.sort()
        lcps = []
        for (a, _, _), (b, _, _) in zip(sufs, sufs[1:]):
            l = 0
            while l < 16 and l < len(a) and l < len(b) and a[l] == b[l]:
                l += 1
            lcps.append(l)
        assert got[src] == (
            len(sufs),
            max(lcps),
            sum(1 for l in lcps if l >= 8),
            sum(lcps),
        )


def test_cc_components_match_union_find_over_spark_pairs(spark):
    """Union-find (a third algorithm — neither hash-to-min nor plain
    min-propagation) over the SAME banded candidate pair set, built
    with the graded lsh machinery."""
    from sparkksqldbbenchmark_spark.llm.dedup import lsh_banded_buckets

    docs = load_table(spark, SF_DIR, "documents")
    _, buckets = lsh_banded_buckets(
        docs, "text", "doc_id", num_hashes=16, bands=4
    )
    import pyspark.sql.functions as F

    left = buckets.select(F.col("doc_id").alias("u"), "band_idx", "bh")
    right = buckets.select(F.col("doc_id").alias("v"), "band_idx", "bh")
    pairs = [
        (r.u, r.v)
        for r in left.join(right, ["band_idx", "bh"])
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .dropDuplicates(["u", "v"])
        .collect()
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    from collections import defaultdict

    comps = defaultdict(list)
    for node in parent:
        comps[find(node)].append(node)
    got = {
        r.component: (r.n_members, r.min_doc_id, r.max_doc_id,
                      r.converged)
        for r in STAGED["cc_hash_to_min_pointer_jump"](
            spark, SF_DIR
        ).collect()
    }
    assert got == {
        root: (len(m), min(m), max(m), True)
        for root, m in comps.items()
    }


def _word_shingles(text: str, n: int = 3) -> list[str]:
    """Python twin of llm/hashing word shingles: distinct n-grams of
    whitespace tokens, preserving first-occurrence order is irrelevant
    (sets compare); degenerate short docs yield the sub-n prefix."""
    import re

    toks = re.findall(r"\S+", text)
    upper = max(len(toks) - n + 1, 1)
    out = []
    seen = set()
    for i in range(upper):
        s = " ".join(toks[i : i + n])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def test_lsh_band_sweep_matches_hashlib_minhash_replay(spark):
    """Full python re-derivation of the sweep: md5 shingle hashes,
    the (2j+1)h + j*BMUL affine family, min per seed, band grouping
    at (4,4) and (8,2), candidate pairs, exact-Jaccard verify."""
    P31, BMUL = 2147483647, 1013904223
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    ).collect()
    sh = {r.doc_id: _word_shingles(r.text) for r in docs}
    sig = {}
    for did, shingles in sh.items():
        hs = [_md5int(s) & P31 for s in shingles]
        sig[did] = [
            min(((2 * j + 1) * h + (j * BMUL) % P31) % P31 for h in hs)
            for j in range(16)
        ]
    expected = {}
    for bands in (4, 8):
        r = 16 // bands
        from collections import defaultdict

        buckets = defaultdict(list)
        for did, s in sig.items():
            for b in range(bands):
                key = (b, tuple(s[b * r : (b + 1) * r]))
                buckets[key].append(did)
        cands = set()
        for members in buckets.values():
            members.sort()
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    cands.add((members[i], members[j]))
        verified = 0
        for a, b in cands:
            sa, sb = set(sh[a]), set(sh[b])
            inter = len(sa & sb)
            if inter / (len(sa) + len(sb) - inter) >= 0.5:
                verified += 1
        expected[bands] = (r, len(cands), verified)
    got = {
        row.bands: (row.rows_per_band, row.n_candidates, row.n_verified)
        for row in STAGED["lsh_band_sensitivity_audit"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected


def test_scd2_lookup_matches_bisect_replay(spark):
    import bisect
    from collections import defaultdict

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    ).collect()
    line = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    ).collect()
    # dim: per (ck, date) attribute of max orderkey
    best = {}
    for o in orders:
        key = (o.o_custkey, o.o_orderdate)
        if key not in best or o.o_orderkey > best[key][0]:
            best[key] = (o.o_orderkey, o.o_orderpriority)
    versions = defaultdict(list)
    for (ck, d), (_, prio) in best.items():
        versions[ck].append((d, prio))
    for v in versions.values():
        v.sort()
    okey2ck = {o.o_orderkey: o.o_custkey for o in orders}
    expected = defaultdict(lambda: [0, 0])
    for li in line:
        ck = okey2ck[li.l_orderkey]
        vs = versions[ck]
        i = bisect.bisect_right([d for d, _ in vs], li.l_shipdate)
        prio = vs[i - 1][1] if i > 0 else "UNMATCHED"
        agg = expected[prio]
        agg[0] += 1
        agg[1] += _cents(li.l_extendedprice)
    got = {
        r.version_priority: (r.n_lineitems, r.price_cents)
        for r in STAGED["scd2_temporal_lookup_join"](
            spark, SF_DIR
        ).collect()
    }
    assert got == {k: tuple(v) for k, v in expected.items()}


def test_attribution_matches_scan_replay(spark):
    from collections import defaultdict

    rows = _events(
        spark, "user_id", "ts", "event_id", "event_type", "value"
    )
    marketing = defaultdict(dict)  # user -> ts -> type (max event_id)
    mseen = {}
    for r in rows:
        if r.event_type in ("view", "click"):
            key = (r.user_id, r.ts)
            if key not in mseen or r.event_id > mseen[key][0]:
                mseen[key] = (r.event_id, r.event_type)
    mts = defaultdict(list)
    for (u, ts), (_, et) in mseen.items():
        mts[u].append((ts, et))
    for v in mts.values():
        v.sort(key=lambda x: x[0])
    import bisect

    expected = defaultdict(lambda: [0, 0])
    for r in rows:
        if r.event_type != "purchase":
            continue
        touches = mts.get(r.user_id, [])
        i = bisect.bisect_right([t for t, _ in touches], r.ts)
        touch = "none"
        if i > 0:
            t, et = touches[i - 1]
            if (r.ts - t).total_seconds() * 1_000_000 <= 604800000000:
                touch = et
        agg = expected[touch]
        agg[0] += 1
        agg[1] += _cents(r.value)
    got = {
        r.attributed_to: (r.n_purchases, r.revenue_cents)
        for r in STAGED["attribution_last_touch_windowed"](
            spark, SF_DIR
        ).collect()
    }
    assert got == {k: tuple(v) for k, v in expected.items()}


def test_subject_export_and_mom_yoy_and_ltv_match_replay(spark):
    from collections import defaultdict

    customer = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_mktsegment"
    ).collect()
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    ).collect()
    line = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    ).collect()
    subjects = {
        c.c_custkey: c.c_mktsegment
        for c in customer
        if c.c_custkey % 97 == 0
    }
    exp = defaultdict(lambda: [0, 0])
    okeys = {}
    for o in orders:
        if o.o_custkey in subjects:
            exp[(o.o_custkey, "orders")][0] += 1
            exp[(o.o_custkey, "orders")][1] += _cents(o.o_totalprice)
            okeys[o.o_orderkey] = o.o_custkey
    for li in line:
        ck = okeys.get(li.l_orderkey)
        if ck is not None:
            exp[(ck, "lineitem")][0] += 1
            exp[(ck, "lineitem")][1] += _cents(li.l_extendedprice)
    got = {
        (r.custkey, r.record_type): (
            r.segment,
            r.n_records,
            r.cents_sum,
        )
        for r in STAGED["subject_access_export"](
            spark, SF_DIR
        ).collect()
    }
    assert got == {
        (ck, t): (subjects[ck], n, c)
        for (ck, t), (n, c) in exp.items()
    }

    # MoM / YoY
    monthly = defaultdict(int)
    for o in orders:
        ym = o.o_orderdate.year * 12 + o.o_orderdate.month
        monthly[ym] += _cents(o.o_totalprice)
    yms = sorted(monthly)
    got2 = {
        r.ym: (r.rev_cents, r.mom_delta, r.yoy_delta)
        for r in STAGED["monthly_revenue_mom_yoy"](
            spark, SF_DIR
        ).collect()
    }
    for i, ym in enumerate(yms):
        mom = monthly[ym] - monthly[yms[i - 1]] if i >= 1 else None
        yoy = monthly[ym] - monthly[yms[i - 12]] if i >= 12 else None
        assert got2[ym] == (monthly[ym], mom, yoy)

    # cohort LTV
    first = {}
    for o in orders:
        ym = o.o_orderdate.year * 12 + o.o_orderdate.month
        first[o.o_custkey] = min(first.get(o.o_custkey, ym), ym)
    cells = defaultdict(lambda: [0, set(), 0])
    for o in orders:
        ym = o.o_orderdate.year * 12 + o.o_orderdate.month
        key = (first[o.o_custkey], ym - first[o.o_custkey])
        cells[key][0] += 1
        cells[key][1].add(o.o_custkey)
        cells[key][2] += _cents(o.o_totalprice)
    got3 = {
        (r.cohort_ym, r.age_months): (
            r.n_orders,
            r.n_active,
            r.rev_cents,
            r.cum_rev_cents,
        )
        for r in STAGED["cohort_ltv_accumulation"](
            spark, SF_DIR
        ).collect()
    }
    cum = defaultdict(int)
    for (cym, age) in sorted(cells):
        n, users, rev = cells[(cym, age)]
        cum[cym] += rev
        assert got3[(cym, age)] == (n, len(users), rev, cum[cym])


def test_watermark_late_drop_matches_semantics_replay(spark):
    """The emitted set replayed from first principles: on-time = day
    1 of the corpus, watermark = max on-time ts − 10 min, emitted =
    on-time 15-min windows with end <= watermark, late rows (day-2
    shifted back 2 days) contribute NOTHING — if the engine leaked
    them their windows WOULD be emitted (they end below the
    watermark)."""
    import datetime

    rows = _events(spark, "ts", "event_type")
    t0 = min(r.ts for r in rows).replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    on_time = [
        r for r in rows
        if t0 <= r.ts < t0 + datetime.timedelta(days=1)
    ]
    wm = max(r.ts for r in on_time) - datetime.timedelta(minutes=10)
    from collections import defaultdict

    expected = defaultdict(int)
    for r in on_time:
        mins = (r.ts - t0).total_seconds() // 60
        ws = t0 + datetime.timedelta(minutes=15 * (mins // 15))
        if ws + datetime.timedelta(minutes=15) <= wm:
            expected[
                (ws.strftime("%Y-%m-%d %H:%M:%S"), r.event_type)
            ] += 1
    got = {
        (r.window_start, r.event_type): r.n
        for r in STAGED["streaming_watermark_late_drop"](
            spark, SF_DIR
        ).collect()
    }
    assert got == dict(expected)


def test_array_sort_comparator_matches_python_key_sort(spark):
    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "text"
    ).collect()
    from collections import defaultdict

    exp = defaultdict(lambda: [0, 0])
    for r in docs:
        toks = r.text.split(" ")[:12]
        joined = "|".join(
            sorted(toks, key=lambda t: (-len(t), t))
        )
        exp[r.source][0] += 1
        exp[r.source][1] += _md5int(joined) % 1000000007
    got = {
        r.source: (r.n_docs, r.checksum)
        for r in STAGED["array_sort_comparator_suite"](
            spark, SF_DIR
        ).collect()
    }
    assert got == {s: tuple(v) for s, v in exp.items()}


def test_longest_repeat_extract_matches_sorted_replay(spark):
    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "doc_id", "text"
    ).collect()
    from collections import defaultdict

    by_src = defaultdict(list)
    for r in docs:
        t = r.text
        for p in range(1, max(len(t) - 15, 0) + 1):
            by_src[r.source].append((t[p - 1 : p + 15], r.doc_id, p))
    got = {
        r.source: (r.max_lcp, r.repeat_text, r.n_achieving_pairs)
        for r in STAGED["longest_repeated_substring_extract"](
            spark, SF_DIR
        ).collect()
    }
    for src, sufs in by_src.items():
        sufs.sort()
        pairs = []
        for (a, _, _), (b, _, _) in zip(sufs, sufs[1:]):
            l = 0
            while l < 16 and l < len(a) and l < len(b) and a[l] == b[l]:
                l += 1
            pairs.append((l, b))
        mx = max(l for l, _ in pairs)
        achieving = [suf[:mx] for l, suf in pairs if l == mx]
        assert got[src] == (mx, min(achieving), len(achieving))


def test_kmeanspp_seeding_matches_python_traversal(spark):
    rows = _emb(spark)
    vecs = {r.vec_id: _quant(r.embedding) for r in rows}
    n2 = {vid: sum(x * x for x in v) for vid, v in vecs.items()}

    def h20(step, vid):
        return _md5int(f"{step}#{vid}") % 1048576

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(vecs[a], vecs[b]))

    keyed = {v: h20(1, v) for v in vecs}
    c1 = min(keyed, key=lambda v: (-keyed[v], v))
    expected = [(1, c1, keyed[c1])]
    chosen = [c1]
    mind = {v: d2(v, c1) for v in vecs}
    for step in (2, 3):
        pri = {
            v: (h20(step, v) + 1) * d
            for v, d in mind.items()
            if v not in chosen
        }
        ci = min(pri, key=lambda v: (-pri[v], v))
        expected.append((step, ci, pri[ci]))
        chosen.append(ci)
        if step < 3:
            for v in mind:
                mind[v] = min(mind[v], d2(v, ci))
    got = sorted(
        (r.step, r.vec_id, r.metric)
        for r in STAGED["kmeanspp_d2_seeding_derandomized"](
            spark, SF_DIR
        ).collect()
    )
    assert got == expected


def test_multiprobe_recall_matches_numpy_replay(spark):
    import numpy as np

    from sparkksqldbbenchmark_spark.llm import similarity

    planes = np.array(similarity.hyperplanes(5, 64))
    rows = _emb(spark)
    ids = [r.vec_id for r in rows]
    q = np.array([_quant(r.embedding) for r in rows], dtype=np.int64)
    raw = np.array(
        [[float(x) for x in r.embedding] for r in rows]
    )
    buckets = {}
    for idx, row in enumerate(raw):
        b = 0
        for i, p in enumerate(planes):
            acc = 0.0
            for k in range(64):
                acc += row[k] * p[k]
            if acc >= 0.0:
                b |= 1 << i
        buckets[ids[idx]] = b
    by_cell = {}
    for vid, b in buckets.items():
        by_cell.setdefault(b, []).append(vid)
    idx_of = {vid: i for i, vid in enumerate(ids)}
    n_queries = n_with = hits = total_cands = 0
    for vid in ids:
        if vid % 25 != 0:
            continue
        n_queries += 1
        cells = [buckets[vid]] + [
            buckets[vid] ^ (1 << i) for i in range(5)
        ]
        cands = sorted(
            {
                c
                for cell in cells
                for c in by_cell.get(cell, [])
                if c != vid
            }
        )
        # exact NN over everything
        def nn_of(cand_list):
            best, bid = None, None
            for c in cand_list:
                d = int(q[idx_of[c]] @ q[idx_of[vid]])
                if best is None or d > best or (d == best and c < bid):
                    best, bid = d, c
            return bid

        exact = nn_of([c for c in ids if c != vid])
        if cands:
            n_with += 1
            total_cands += len(cands)
            if nn_of(cands) == exact:
                hits += 1
    got = STAGED["multi_probe_lsh_recall_certified"](
        spark, SF_DIR
    ).collect()[0]
    assert (
        got.n_queries,
        got.n_with_candidates,
        got.n_recall_hits,
        got.total_candidates,
    ) == (n_queries, n_with, hits, total_cands)


def test_weighted_bottomk_matches_hashlib_replay(spark):
    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "doc_id", "n_chars"
    ).collect()
    from collections import defaultdict

    by_src = defaultdict(list)
    for r in docs:
        pri = _md5int(str(r.doc_id)) // max(r.n_chars, 1)
        by_src[r.source].append((pri, r.doc_id, r.n_chars))
    got = {
        r.source: (
            r.n_docs,
            r.n_kept,
            r.kept_id_sum,
            r.kept_weight,
            r.boundary_ok,
        )
        for r in STAGED["weighted_bottomk_priority_sample"](
            spark, SF_DIR
        ).collect()
    }
    for src, items in by_src.items():
        items.sort()
        kept, dropped = items[:8], items[8:]
        ok = (not dropped) or max(p for p, _, _ in kept) <= min(
            p for p, _, _ in dropped
        )
        assert got[src] == (
            len(items),
            len(kept),
            sum(d for _, d, _ in kept),
            sum(w for _, _, w in kept),
            ok,
        )


def test_session_window_late_drop_matches_islands_replay(spark):
    """Session assembly + the closed-set rule replayed in python:
    30-min-gap islands over on-time day-1 events per user, emitted
    iff last_event + 30min <= max on-time ts − 10min; late rows
    contribute nothing."""
    import datetime
    from collections import defaultdict

    rows = _events(spark, "user_id", "ts")
    t0 = min(r.ts for r in rows).replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    on_time = [
        r for r in rows
        if t0 <= r.ts < t0 + datetime.timedelta(days=1)
    ]
    wm = max(r.ts for r in on_time) - datetime.timedelta(minutes=10)
    by_user = defaultdict(list)
    for r in on_time:
        by_user[r.user_id].append(r.ts)
    expected = {}
    gap = datetime.timedelta(minutes=30)
    for u, tss in by_user.items():
        tss.sort()
        start, last, n = tss[0], tss[0], 1
        sessions = []
        for ts in tss[1:]:
            if ts - last > gap:
                sessions.append((start, last, n))
                start, n = ts, 0
            last = ts
            n += 1
        sessions.append((start, last, n))
        for s, e, n in sessions:
            if e + gap <= wm:
                expected[
                    (u, s.strftime("%Y-%m-%d %H:%M:%S"))
                ] = n
    got = {
        (r.user_id, r.session_start): r.n_events
        for r in STAGED["streaming_session_window_late_drop"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected


def test_transition_dwell_matches_sequence_walk(spark):
    rows = _events(
        spark, "user_id", "ts", "event_id", "event_type"
    )
    from collections import defaultdict

    series = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id)):
        series[r.user_id].append((r.event_type, r.ts))
    cells = defaultdict(lambda: [0, 0, None, None])
    for seq in series.values():
        for (a, t1), (b, t2) in zip(seq, seq[1:]):
            us = round((t2 - t1).total_seconds() * 1_000_000)
            c = cells[(a, b)]
            c[0] += 1
            c[1] += us
            c[2] = us if c[2] is None else min(c[2], us)
            c[3] = us if c[3] is None else max(c[3], us)
    got = {
        (r.prev_type, r.next_type): (
            r.n,
            r.total_dwell_us,
            r.min_dwell_us,
            r.max_dwell_us,
            r.mean_dwell_us,
        )
        for r in STAGED["transition_dwell_matrix"](
            spark, SF_DIR
        ).collect()
    }
    assert got == {
        k: (n, tot, mn, mx, tot // n)
        for k, (n, tot, mn, mx) in cells.items()
    }


def test_dynamic_gap_session_late_drop_matches_islands_replay(spark):
    """Per-user-constant dynamic gap (30 min even users, 60 min odd)
    replayed as gaps-and-islands with the union-of-intervals end."""
    import datetime
    from collections import defaultdict

    rows = _events(spark, "user_id", "ts")
    t0 = min(r.ts for r in rows).replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    on_time = [
        r for r in rows
        if t0 <= r.ts < t0 + datetime.timedelta(days=1)
    ]
    wm = max(r.ts for r in on_time) - datetime.timedelta(minutes=10)
    by_user = defaultdict(list)
    for r in on_time:
        by_user[r.user_id].append(r.ts)
    expected = {}
    for u, tss in by_user.items():
        gap = datetime.timedelta(
            minutes=30 if u % 2 == 0 else 60
        )
        tss.sort()
        start, last, n = tss[0], tss[0], 1
        sessions = []
        for ts in tss[1:]:
            if ts - last > gap:
                sessions.append((start, last, n))
                start, n = ts, 0
            last = ts
            n += 1
        sessions.append((start, last, n))
        for s, e, n in sessions:
            if e + gap <= wm:
                expected[
                    (u, s.strftime("%Y-%m-%d %H:%M:%S"))
                ] = n
    got = {
        (r.user_id, r.session_start): r.n_events
        for r in STAGED["streaming_dynamic_gap_session_late_drop"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected


def test_multiprobe_recall_at_5_matches_numpy_replay(spark):
    import numpy as np

    from sparkksqldbbenchmark_spark.llm import similarity

    planes = np.array(similarity.hyperplanes(5, 64))
    rows = _emb(spark)
    ids = [r.vec_id for r in rows]
    q = np.array([_quant(r.embedding) for r in rows], dtype=np.int64)
    raw = np.array([[float(x) for x in r.embedding] for r in rows])
    buckets = {}
    for idx, row in enumerate(raw):
        b = 0
        for i, p in enumerate(planes):
            acc = 0.0
            for k in range(64):
                acc += row[k] * p[k]
            if acc >= 0.0:
                b |= 1 << i
        buckets[ids[idx]] = b
    by_cell = {}
    for vid, b in buckets.items():
        by_cell.setdefault(b, []).append(vid)
    idx_of = {vid: i for i, vid in enumerate(ids)}

    def top5(vid, cands):
        scored = sorted(
            ((int(q[idx_of[c]] @ q[idx_of[vid]]), c) for c in cands),
            key=lambda t: (-t[0], t[1]),
        )
        return {c for _, c in scored[:5]}

    n_q = total = 0
    for vid in ids:
        if vid % 25 != 0:
            continue
        n_q += 1
        cells = [buckets[vid]] + [
            buckets[vid] ^ (1 << i) for i in range(5)
        ]
        cands = {
            c
            for cell in cells
            for c in by_cell.get(cell, [])
            if c != vid
        }
        mp = top5(vid, cands) if cands else set()
        exact = top5(vid, [c for c in ids if c != vid])
        total += len(mp & exact)
    got = STAGED["multi_probe_recall_at_k_certified"](
        spark, SF_DIR
    ).collect()[0]
    assert (got.n_queries, got.total_common, got.recall_at_5_e6) == (
        n_q,
        total,
        total * 1000000 // (n_q * 5),
    )


def test_leadtime_histogram_matches_direct_walk(spark):
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    ).collect()
    line = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_shipdate"
    ).collect()
    from collections import defaultdict

    first_ship = {}
    for li in line:
        k = li.l_orderkey
        if k not in first_ship or li.l_shipdate < first_ship[k]:
            first_ship[k] = li.l_shipdate
    cells = defaultdict(lambda: [0, 0, None, None])
    for o in orders:
        if o.o_orderkey not in first_ship:
            continue
        days = (first_ship[o.o_orderkey] - o.o_orderdate).days
        bucket = len(bin(max(days, 1))) - 2
        c = cells[(o.o_orderpriority, bucket)]
        c[0] += 1
        c[1] += days
        c[2] = days if c[2] is None else min(c[2], days)
        c[3] = days if c[3] is None else max(c[3], days)
    got = {
        (r.priority, r.leadtime_bucket): (
            r.n_orders,
            r.total_days,
            r.min_days,
            r.max_days,
        )
        for r in STAGED["order_to_ship_leadtime_histogram"](
            spark, SF_DIR
        ).collect()
    }
    assert got == {k: tuple(v) for k, v in cells.items()}


def test_mode_median_matches_counter_replay(spark):
    """The planted-mode and midpoint-median (round-12 holdback row)
    re-derived with collections.Counter and sorted midpoints — the
    witness VERDICT r12 noted the breadth suite lacked."""
    from collections import Counter, defaultdict

    rows = _events(spark, "event_type", "user_id", "value")
    planted = defaultdict(list)
    planted_s = defaultdict(list)
    cents = defaultdict(list)
    for r in rows:
        p = 0 if r.user_id % 4 == 0 else r.user_id % 97 + 1
        ps = "hot" if r.user_id % 4 == 0 else f"u{r.user_id % 97}"
        planted[r.event_type].append(p)
        planted_s[r.event_type].append(ps)
        cents[r.event_type].append(_cents(r.value))
    got = {
        r.event_type: (
            r.n,
            r.mode_val,
            r.mode_str,
            r.median_cents,
            r.min_cents,
            r.max_cents,
        )
        for r in STAGED["mode_median_suite"](spark, SF_DIR).collect()
    }
    for et, vals in planted.items():
        mode_val, mode_n = Counter(vals).most_common(1)[0]
        # the planting guarantees a unique mode by a wide margin
        assert mode_n > max(
            c for v, c in Counter(vals).items() if v != mode_val
        )
        mode_str = Counter(planted_s[et]).most_common(1)[0][0]
        cs = sorted(cents[et])
        n = len(cs)
        med = (
            float(cs[n // 2])
            if n % 2
            else (cs[n // 2 - 1] + cs[n // 2]) / 2.0
        )
        assert got[et] == (
            n,
            mode_val,
            mode_str,
            med,
            cs[0],
            cs[-1],
        )


def _staged_plan(spark, name: str) -> str:
    import contextlib
    import io

    df = STAGED[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_rfm_rank_plan_has_no_global_sort(spark):
    """The three leveled ranks must never plan a range-partitioned
    global sort — that is the single-reducer shape the two-level
    pattern exists to avoid. Single-partition exchanges are allowed
    only for the bounded bucket-carry frames."""
    plan = _staged_plan(spark, "rfm_segment_counts")
    assert "rangepartitioning" not in plan
    assert "hashpartitioning" in plan


def test_suffix_lcp_plan_has_no_global_sort(spark):
    plan = _staged_plan(spark, "suffix_lcp_repeat_stats")
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_knn_loo_corpus_side_never_shuffles(spark):
    """The probe set broadcasts; the corpus is scanned once with no
    SortMergeJoin anywhere — the bounded-probe contract in plan
    form."""
    plan = _staged_plan(spark, "knn_loo_label_accuracy")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_asof_plan_is_single_keyed_exchange(spark):
    """The union-tag as-of compiles to keyed hash exchanges + one
    in-partition sort — never an inequality nested-loop join."""
    plan = _staged_plan(spark, "scd2_temporal_lookup_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_equi_depth_scan_prunes_to_value_column(spark):
    plan = _staged_plan(spark, "equi_depth_partition_bounds")
    read_schemas = [
        l for l in plan.splitlines() if "ReadSchema" in l
    ]
    assert read_schemas, "no parquet ReadSchema in plan"
    # the scalar-count scan legitimately reads struct<>; the value
    # scan must read ONLY value
    assert any("value" in line for line in read_schemas)
    for line in read_schemas:
        assert "props" not in line and "event_type" not in line


def test_tv_distance_matches_counter_replay(spark):
    import re
    from collections import Counter, defaultdict

    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "text"
    ).collect()
    tf = defaultdict(Counter)
    for r in docs:
        tf[r.source].update(re.findall(r"\S+", r.text))
    tot = {s: sum(c.values()) for s, c in tf.items()}
    got = {
        (r.src_a, r.src_b): (r.tv_e6, r.n_tokens_union)
        for r in STAGED["token_tv_distance_matrix"](
            spark, SF_DIR
        ).collect()
    }
    srcs = sorted(tf)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            union = set(tf[a]) | set(tf[b])
            num = sum(
                abs(tf[a][t] * tot[b] - tf[b][t] * tot[a])
                for t in union
            )
            tv = num * 500000 // (tot[a] * tot[b])
            assert got[(a, b)] == (tv, len(union))


def test_chi2_independence_matches_counter_replay(spark):
    from collections import Counter

    docs = load_table(spark, SF_DIR, "documents").select(
        "lang", "source"
    ).collect()
    cells = Counter((r.lang, r.source) for r in docs)
    rows = Counter(r.lang for r in docs)
    cols = Counter(r.source for r in docs)
    n = len(docs)
    got = {
        (r.lang, r.source): (
            r.observed,
            r.expected_floor,
            r.chi2_contrib_e6,
        )
        for r in STAGED["chi2_independence_contingency"](
            spark, SF_DIR
        ).collect()
    }
    for lang in rows:
        for src in cols:
            o = cells.get((lang, src), 0)
            r, c = rows[lang], cols[src]
            assert got[(lang, src)] == (
                o,
                (r * c) // n,
                ((o * n - r * c) ** 2 * 1000000) // (n * r * c),
            )
    assert len(got) == len(rows) * len(cols)


def test_clustering_coefficient_matches_networkx_free_replay(spark):
    """Triangles per node and cc re-derived from the SAME candidate
    pair set with plain set algebra (adjacency intersection — a third
    spelling, neither wedge join nor SQL)."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from sparkksqldbbenchmark_spark.llm.dedup import lsh_banded_buckets

    docs = load_table(spark, SF_DIR, "documents")
    _, buckets = lsh_banded_buckets(
        docs, "text", "doc_id", num_hashes=16, bands=4
    )
    left = buckets.select(F.col("doc_id").alias("u"), "band_idx", "bh")
    right = buckets.select(F.col("doc_id").alias("v"), "band_idx", "bh")
    pairs = {
        (r.u, r.v)
        for r in left.join(right, ["band_idx", "bh"])
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .dropDuplicates(["u", "v"])
        .collect()
    }
    adj = defaultdict(set)
    for u, v in pairs:
        adj[u].add(v)
        adj[v].add(u)
    per_degree = defaultdict(lambda: [0, 0, 0])
    for node, nbrs in adj.items():
        d = len(nbrs)
        t = sum(len(adj[x] & nbrs) for x in nbrs) // 2
        t2 = 2 * t
        cc = t2 * 1000000 // (d * (d - 1)) if d >= 2 else 0
        agg = per_degree[d]
        agg[0] += 1
        agg[1] += cc
        agg[2] += t2
    got = {
        r.degree: (r.n_nodes, r.total_cc_e6, r.n_triangles2)
        for r in STAGED["local_clustering_coefficient"](
            spark, SF_DIR
        ).collect()
    }
    assert got == {
        d: (n, cc, t2 // 2) for d, (n, cc, t2) in per_degree.items()
    }


def test_repeated_span_cut_matches_python_interval_replay(spark):
    """Cut-plan row re-derived directly: per source, Counter of
    16-char windows; every position whose window repeats becomes a
    cut [p, p+16); islands merged by a linear scan over the sorted
    cut starts — none of the SQL window/island machinery."""
    from collections import Counter

    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "doc_id", "text"
    ).collect()
    by_src: dict[str, list] = {}
    for r in docs:
        by_src.setdefault(r.source, []).append(r)
    expected = {}
    for src, rows in by_src.items():
        wc: Counter = Counter()
        for r in rows:
            t = r.text
            for p in range(1, len(t) - 14):
                wc[t[p - 1 : p + 15]] += 1
        docs_affected = n_islands = cut_chars = max_cut = 0
        total_chars = sum(len(r.text) for r in rows)
        for r in rows:
            t = r.text
            starts = [
                p
                for p in range(1, len(t) - 14)
                if wc[t[p - 1 : p + 15]] >= 2
            ]
            if not starts:
                continue
            docs_affected += 1
            doc_cut = 0
            cur_lo, cur_hi = starts[0], starts[0] + 16
            islands = 1
            for s in starts[1:]:
                if s > cur_hi:
                    doc_cut += cur_hi - cur_lo
                    islands += 1
                    cur_lo, cur_hi = s, s + 16
                else:
                    cur_hi = max(cur_hi, s + 16)
            doc_cut += cur_hi - cur_lo
            n_islands += islands
            cut_chars += doc_cut
            max_cut = max(max_cut, doc_cut)
        expected[src] = (
            len(rows),
            docs_affected,
            n_islands,
            cut_chars,
            total_chars - cut_chars,
            max_cut,
        )
    got = {
        r.source: (
            r.n_docs,
            r.docs_affected,
            r.n_cut_intervals,
            r.cut_chars,
            r.kept_chars,
            r.max_doc_cut,
        )
        for r in STAGED["repeated_span_cut_plan"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected


def _word_shingles(text: str, n: int = 3) -> set:
    toks = text.split()
    if len(toks) <= n:
        return {" ".join(toks[:n])} if toks else set()
    return {
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    }


def test_setsim_prefix_filter_has_zero_false_negatives(spark):
    """The prefix-filter completeness theorem, checked against the
    ground truth the filter is supposed to preserve: BRUTE-FORCE
    all-pairs Jaccard over the word-3-shingle sets. The staged join
    must return exactly the pairs with (inter*1e6) DIV union >=
    600000 — no false negatives (the theorem) and no false positives
    (the verify stage) — with matching exact values."""
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    ).collect()
    sets = {r.doc_id: _word_shingles(r.text) for r in docs}
    ids = sorted(sets)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            union = len(sets[a]) + len(sets[b]) - inter
            if inter * 1000000 >= 600000 * union:
                expected[(a, b)] = (
                    inter,
                    union,
                    inter * 1000000 // union,
                )
    got = {
        (r.doc_a, r.doc_b): (
            r.inter_shingles,
            r.union_shingles,
            r.jacc_e6,
        )
        for r in STAGED["setsim_prefix_filter_join"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected
    assert expected, "fixture must plant at least one qualifying pair"


def test_kmv_union_merge_matches_hashlib_replay(spark):
    """KMV mergeability re-derived with hashlib only: per-source
    31-bit shingle-hash sets, per-source 32 smallest, merged 32
    smallest of the union-of-sketches vs direct 32 smallest of the
    full corpus — asserting the identity holds and the staged row
    reports it (is_equal all 1, estimator arithmetic exact)."""
    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "text"
    ).collect()
    per_src: dict[str, set] = {}
    for r in docs:
        hs = per_src.setdefault(r.source, set())
        for g in _word_shingles(r.text):
            hs.add(_md5int(g) & 2147483647)
    k = 32
    union_of_sketches: set = set()
    all_h: set = set()
    for hs in per_src.values():
        union_of_sketches.update(sorted(hs)[:k])
        all_h.update(hs)
    merged = sorted(union_of_sketches)[:k]
    direct = sorted(all_h)[:k]
    assert merged == direct, "the KMV merge identity itself"
    rows = sorted(
        STAGED["kmv_sketch_union_merge_certified"](
            spark, SF_DIR
        ).collect(),
        key=lambda r: r.rank,
    )
    assert [r.merged_h for r in rows] == merged
    assert [r.direct_h for r in rows] == direct
    assert all(r.is_equal == 1 for r in rows)
    for r in rows:
        want = (
            (r.rank - 1) * 2147483647 // r.merged_h
            if r.rank >= 2
            else 0
        )
        assert r.est_distinct_at_rank == want


def test_skyline_frontier_matches_quadratic_dominance_scan(spark):
    """Pareto frontier re-derived by the DIRECT quadratic dominance
    definition over raw parts (no cell rollup, no window): a
    (brand, size, min-cents) point survives iff no part of the same
    brand strictly dominates it."""
    parts = load_table(spark, SF_DIR, "part").select(
        "p_brand", "p_size", "p_retailprice"
    ).collect()
    cells: dict[tuple, list] = {}
    for r in parts:
        key = (r.p_brand, r.p_size)
        c = math.floor(r.p_retailprice * 100)
        if key not in cells:
            cells[key] = [c, 1]
        else:
            cells[key][0] = min(cells[key][0], c)
            cells[key][1] += 1
    expected = {}
    for (brand, size), (price, n) in cells.items():
        dominated = any(
            b2 == brand and s2 > size and p2 <= price
            for (b2, s2), (p2, _) in cells.items()
        )
        if not dominated:
            expected[(brand, size)] = (price, n)
    got = {
        (r.brand, r.size): (r.min_price_cents, r.n_parts)
        for r in STAGED["skyline_pareto_frontier"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected


def test_bucketed_join_matches_python_hash_join(spark):
    """The bucketed co-located join's values re-derived by a plain
    Python dict join over the raw tables (the plan-shape assertion
    itself lives in the query)."""
    orders = {
        r.o_orderkey: r.o_orderpriority
        for r in load_table(spark, SF_DIR, "orders").select(
            "o_orderkey", "o_orderpriority"
        ).collect()
    }
    agg: dict[str, list] = {}
    for r in load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    ).collect():
        pr = orders.get(r.l_orderkey)
        if pr is None:
            continue
        a = agg.setdefault(pr, [0, 0])
        a[0] += 1
        a[1] += math.floor(r.l_extendedprice * 100)
    got = {
        r.o_orderpriority: (r.n_items, r.revenue_cents)
        for r in STAGED["bucketed_colocated_join_audit"](
            spark, SF_DIR
        ).collect()
    }
    assert got == {k: tuple(v) for k, v in agg.items()}


def test_outer_join_null_emission_matches_python_left_join(spark):
    """The streaming left-outer join's full emitted set (matches AND
    watermark-driven null rows) re-derived by a plain Python nested
    loop over the day-1 slice — no streaming machinery."""
    rows = _events(spark, "user_id", "event_id", "event_type", "ts")
    t0 = min(r.ts for r in rows).replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    import datetime

    day1 = [
        r
        for r in rows
        if t0 <= r.ts < t0 + datetime.timedelta(days=1)
    ]
    views = [r for r in day1 if r.event_type == "view"]
    clicks = [r for r in day1 if r.event_type == "click"]
    expected = set()
    for v in views:
        matched = False
        for c in clicks:
            if (
                c.user_id == v.user_id
                and v.ts <= c.ts <= v.ts + datetime.timedelta(hours=1)
            ):
                lag = int(
                    (c.ts - v.ts) / datetime.timedelta(microseconds=1)
                )
                expected.add(
                    (v.user_id, v.event_id, c.event_id, lag)
                )
                matched = True
        if not matched:
            expected.add((v.user_id, v.event_id, None, None))
    got = {
        (r.user_id, r.view_id, r.click_id, r.lag_us)
        for r in STAGED["streaming_outer_join_null_emission"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected
    assert any(c is None for (_, _, c, _) in expected), (
        "fixture must exercise the null-emission path"
    )


def test_dedup_within_watermark_reemit_epochs(spark):
    """The re-emission contract replayed in plain Python: day-1 keys
    collapse to one emission in epoch 1 (batch 1; batch 2's +1h
    re-arrivals all dropped in-state) and re-emit once in epoch 2
    (batch 4, after eviction) — exactly 2 per key, sentinel absent."""
    import datetime

    rows = _events(spark, "user_id", "event_type", "ts")
    t0 = min(r.ts for r in rows).replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    keys = {
        (r.user_id, r.event_type)
        for r in rows
        if t0 <= r.ts < t0 + datetime.timedelta(days=1)
    }
    got = {
        (r.user_id, r.event_type): r.n_emitted
        for r in STAGED["streaming_dedup_within_watermark_reemit"](
            spark, SF_DIR
        ).collect()
    }
    assert got == {k: 2 for k in keys}
    assert all(u >= 0 for (u, _) in got), "sentinel leaked"


def test_full_outer_join_emits_both_null_directions(spark):
    """Full-outer emitted set re-derived by a Python nested loop:
    matched pairs, left-nulls for unmatched views, right-nulls for
    unmatched clicks — and the fixture must exercise BOTH null
    directions."""
    import datetime

    rows = _events(spark, "user_id", "event_id", "event_type", "ts")
    t0 = min(r.ts for r in rows).replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    day1 = [
        r
        for r in rows
        if t0 <= r.ts < t0 + datetime.timedelta(days=1)
    ]
    views = [r for r in day1 if r.event_type == "view"]
    clicks = [r for r in day1 if r.event_type == "click"]
    expected = set()
    matched_clicks = set()
    for v in views:
        matched = False
        for c in clicks:
            if (
                c.user_id == v.user_id
                and v.ts <= c.ts <= v.ts + datetime.timedelta(hours=1)
            ):
                lag = int(
                    (c.ts - v.ts) / datetime.timedelta(microseconds=1)
                )
                expected.add(
                    (v.user_id, v.event_id, c.event_id, lag)
                )
                matched = True
                matched_clicks.add(c.event_id)
        if not matched:
            expected.add((v.user_id, v.event_id, None, None))
    for c in clicks:
        if c.event_id not in matched_clicks:
            expected.add((c.user_id, None, c.event_id, None))
    got = {
        (r.user_id, r.view_id, r.click_id, r.lag_us)
        for r in STAGED["streaming_full_outer_join_both_nulls"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected
    assert any(v is None for (_, v, _, _) in expected), "no right-nulls"
    assert any(
        c is None and v is not None
        for (_, v, c, _) in expected
    ), "no left-nulls"


def test_sentence_chunk_greedy_matches_python_walk(spark):
    """The within-doc greedy chunker re-derived by a direct Python
    walk over the token list — neither the Spark HOF fold nor the
    oracle's recursive CTE."""
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    ).collect()
    budget = 12
    expected = {}
    for r in docs:
        toks = r.text.split()
        lens = []
        cur = 0
        for w in toks:
            cur += 1
            if _md5int(w) & 3 == 0:
                lens.append(cur)
                cur = 0
        if cur:
            lens.append(cur)
        nch, fill, mx = 0, 0, 0
        for L in lens:
            if fill > 0 and fill + L > budget:
                nch += 1
                mx = max(mx, fill)
                fill = L
            else:
                fill += L
        nch += 1
        mx = max(mx, fill)
        expected[r.doc_id] = (len(toks), len(lens), nch, mx, fill)
    got = {
        r.doc_id: (
            r.n_words,
            r.n_sentences,
            r.n_chunks,
            r.max_chunk_words,
            r.last_chunk_words,
        )
        for r in STAGED["sentence_chunk_greedy_fold"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected


def test_bloom_prefilter_matches_python_bitset_replay(spark):
    """The Bloom row re-derived with a plain Python set of bit
    positions: same md5 positions, membership = all 3 bits present,
    FP/FN accounting recomputed directly."""
    customers = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_mktsegment"
    ).collect()
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderpriority", "o_custkey"
    ).collect()
    m, k = 4096, 3
    members = {
        c.c_custkey
        for c in customers
        if c.c_mktsegment == "BUILDING"
    }
    bits = set()
    for key in members:
        for j in range(k):
            bits.add(_md5int(f"{j}#{key}") % m)
    agg: dict[str, list] = {}
    for o in orders:
        cand = all(
            _md5int(f"{j}#{o.o_custkey}") % m in bits
            for j in range(k)
        )
        is_m = o.o_custkey in members
        a = agg.setdefault(o.o_orderpriority, [0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += cand
        a[2] += is_m
        a[3] += cand and not is_m
        a[4] += (not cand) and is_m
    got = {
        r.o_orderpriority: (
            r.n_orders,
            r.n_candidates,
            r.n_members,
            r.n_false_positives,
            r.n_false_negatives,
        )
        for r in STAGED["bloom_prefilter_fpr_certified"](
            spark, SF_DIR
        ).collect()
    }
    assert got == {p: tuple(v) for p, v in agg.items()}
    assert all(v[4] == 0 for v in agg.values()), "Bloom FN must be 0"


def test_semi_join_emits_each_converted_view_once(spark):
    """Left-semi emitted set == Python EXISTS replay, and no view is
    emitted more than once regardless of how many clicks match."""
    import datetime

    rows = _events(spark, "user_id", "event_id", "event_type", "ts")
    t0 = min(r.ts for r in rows).replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    day1 = [
        r
        for r in rows
        if t0 <= r.ts < t0 + datetime.timedelta(days=1)
    ]
    views = [r for r in day1 if r.event_type == "view"]
    clicks = [r for r in day1 if r.event_type == "click"]
    expected = {
        (v.user_id, v.event_id)
        for v in views
        if any(
            c.user_id == v.user_id
            and v.ts <= c.ts <= v.ts + datetime.timedelta(hours=4)
            for c in clicks
        )
    }
    emitted = [
        (r.user_id, r.view_id)
        for r in STAGED["streaming_semi_join_first_match"](
            spark, SF_DIR
        ).collect()
    ]
    assert set(emitted) == expected
    assert len(emitted) == len(set(emitted)), "duplicate emission"
    assert expected, "fixture must contain at least one conversion"

def test_short_and_empty_docs_match_oracle(spark, tmp_path):
    """Regression for the short-doc phantom-window divergence: for
    length(text) < 16, sequence(1, greatest(len-15, 0)) yields the
    DESCENDING array [1, 0] — two identical 'windows' that
    self-qualify as duplicates and emit phantom cuts the oracle's
    'len - p + 1 >= 16' guard never produces (a 9-char doc reported
    a 17-char cut island). TESTDATA's min doc length is 44, so the
    live fixtures never witness this; this synthetic corpus does —
    short, 15-char-boundary, empty, and whitespace-only docs beside
    a genuinely repeated long window — and re-grades the four
    window-position consumers against their unchanged oracles."""
    import duckdb
    import pandas as pd

    from tools.check_correctness import canon_rows

    rep = "the quick brown fox jumps over the lazy dog again"
    docs = pd.DataFrame(
        {
            "doc_id": list(range(1, 9)),
            "text": [
                "short doc",          # 9 chars: must yield 0 windows
                "fifteen chars..",    # 15 chars: boundary, 0 windows
                "sixteen chars...",   # 16 chars: exactly 1 window
                "",                   # empty: no chunker row either
                "   ",                # whitespace-only: tokens empty
                rep + " padding one", # the real repeat pair
                rep + " padding two",
                "x",                  # 1 char
            ],
            "lang": ["en"] * 8,
            "source": ["web", "web", "web", "news", "news",
                       "web", "web", "news"],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    docs.to_parquet(tmp_path / "documents.parquet", index=False)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path / 'documents.parquet'}'"
    )
    for name in (
        "repeated_span_cut_plan",
        "suffix_lcp_repeat_stats",
        "longest_repeated_substring_extract",
        "sentence_chunk_greedy_fold",
    ):
        sdf = STAGED[name](spark, str(tmp_path))
        srows = [tuple(r) for r in sdf.collect()]
        res = con.execute(STAGED_ORACLE[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        assert len(srows) == len(orows), (
            f"{name}: rows {len(srows)} vs oracle {len(orows)}"
        )
        sh, _ = canon_rows(sdf.columns, srows)
        oh, _ = canon_rows(ocols, orows)
        assert sh == oh, f"{name}: value divergence on edge corpus"
    # and the cut plan specifically must never cut more than exists
    cut = {
        r.source: (r.cut_chars, r.kept_chars)
        for r in STAGED["repeated_span_cut_plan"](
            spark, str(tmp_path)
        ).collect()
    }
    for src, (c, k) in cut.items():
        assert c >= 0 and k >= 0, (src, c, k)
    con.close()

def test_grouping_id_bitmask_matches_counter_walk(spark):
    """The GROUPING_ID bitmask re-derived by four plain Counter
    passes (one per grouping set) with the bit convention computed
    directly: bit 0 = hod rolled up, bit 1 = event_type rolled up —
    independent of both Spark's Expand and the oracle's
    2*grouping(a)+grouping(b) spelling."""
    from collections import Counter, defaultdict

    rows = load_table(spark, SF_DIR, "events").select(
        "event_type", "ts", "value"
    ).collect()
    cnt: Counter = Counter()
    cents: defaultdict = defaultdict(int)
    for r in rows:
        c = math.floor(r.value * 100)
        for key, gid in (
            ((r.event_type, r.ts.hour), 0),
            ((r.event_type, None), 1),
            ((None, r.ts.hour), 2),
            ((None, None), 3),
        ):
            cnt[(key, gid)] += 1
            cents[(key, gid)] += c
    expected = {
        (
            k[0] if k[0] is not None else "__ALL__",
            k[1] if k[1] is not None else -1,
            gid,
        ): (n, cents[(k, gid)])
        for (k, gid), n in cnt.items()
    }
    got = {
        (r.event_type, r.hod, r.gid): (r.n, r.cents_sum)
        for r in STAGED["grouping_id_bitmask_report"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected
