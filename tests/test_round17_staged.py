"""Second witnesses for the round-17 staged cohort (the round-18
staging area, plans/next_round.py), beyond the value-hash oracle
(tests/golden.py): each operator's result is re-derived by an
INDEPENDENT brute-force twin in plain Python over the collected slice.
(The held-back team_draft_interleave_k6_generated row keeps its witness
in tests/test_round16_staged.py under its original staging name.)
"""

from __future__ import annotations

import hashlib
from collections import Counter

from sparkksqldbbenchmark_spark.catalog import load_table
import sparkksqldbbenchmark_spark.plans.next_round  # noqa: F401
from sparkksqldbbenchmark_spark.plans.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _md5int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_good_turing_matches_counter_replay(spark):
    """The frequency-of-frequencies table and both smoothing ratios
    re-derived with collections.Counter and plain integer floor
    division."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "text"
    ).collect()
    counts = Counter()
    for r in rows:
        ws = r.text.split(" ")
        for i in range(len(ws) - 2):
            counts[" ".join(ws[i : i + 3])] += 1
    fof = Counter(counts.values())
    n = sum(counts.values())
    n1 = fof.get(1, 0)
    got = {
        r.r: r
        for r in QUERIES["good_turing_frequency_smoothing"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(fof)
    for r, n_r in fof.items():
        g = got[r]
        n_next = fof.get(r + 1, 0)
        assert g.n_r == n_r, r
        assert g.n_r_next == n_next, r
        assert g.r_star_ppm == (r + 1) * n_next * 1000000 // n_r, r
        assert g.total_tokens == n
        assert g.p_unseen_ppm == n1 * 1000000 // n
    # the fixture corpus must exercise the smoothing non-trivially:
    # a populated next class somewhere and a vacant one somewhere
    assert any(
        fof.get(r + 1, 0) > 0 for r in fof
    ) and any(fof.get(r + 1, 0) == 0 for r in fof)
    assert 0 < n1 < n  # unseen mass is a proper fraction


def test_winnowing_dedup_matches_direct_replay(spark):
    """The full dedup grading replayed directly: corpus doubling,
    per-doc winnowing selection (min hash per window, rightmost
    tie), position-free fingerprint sets, df histogram, capped
    candidate volume, and per-source planted recall — all in plain
    Python."""
    from sparkksqldbbenchmark_spark.plans.next_round import (
        _WFD_CAP,
        _WFD_HMOD,
        _WFD_K,
        _WFD_MINLEN,
        _WFD_W,
    )

    k, w, cap = _WFD_K, _WFD_W, _WFD_CAP
    rows = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text"
    ).collect()

    def winnow(text):
        n = len(text) - k + 1
        if n < 1:
            return set()
        hs = [
            _md5int(text[p : p + k]) % _WFD_HMOD for p in range(n)
        ]
        sel = set()
        for end in range(w - 1, n):
            win = range(end - w + 1, end + 1)
            mh = min(hs[p] for p in win)
            sel.add(hs[max(p for p in win if hs[p] == mh)])
        return sel

    fps = {}
    srcs = Counter()
    planted = {}
    for r in rows:
        srcs[r.source] += 1
        fps[r.doc_id] = (r.source, winnow(r.text))
        if len(r.text) >= _WFD_MINLEN:
            ptext = "zq" + r.text[10:70] + "xw"
            planted[r.doc_id] = (r.source, winnow(ptext))
    dfreq = Counter()
    for _, (_, s) in fps.items():
        dfreq.update(s)
    for _, (_, s) in planted.items():
        dfreq.update(s)
    n_fp = len(dfreq)
    n_hot = sum(1 for v in dfreq.values() if v > cap)
    cand_vol = sum(
        v * (v - 1) // 2 for v in dfreq.values() if v <= cap
    )
    per_src = {
        s: [0, 0, 0] for s in srcs
    }  # planted, certified, capped
    for oid, (src, ps) in planted.items():
        shared = ps & fps[oid][1]
        per_src[src][0] += 1
        if shared:
            per_src[src][1] += 1
        if any(dfreq[h] <= cap for h in shared):
            per_src[src][2] += 1
    got = {
        r.source: r
        for r in QUERIES["winnowing_fingerprint_dedup_certified"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(srcs)
    for s, (np_, nc, nk) in per_src.items():
        g = got[s]
        assert g.n_docs == srcs[s]
        assert g.n_planted == np_
        assert g.n_certified_found == nc == np_, (
            "winnowing guarantee must certify every planted pair"
        )
        assert g.certified_recall_pm == (
            nc * 10000 // np_ if np_ else 0
        ) == 10000
        assert g.n_capped_found == nk
        assert g.capped_recall_pm == (
            nk * 10000 // np_ if np_ else 0
        )
        assert g.n_fingerprints == n_fp
        assert g.n_hot_fingerprints == n_hot
        assert g.candidate_volume == cand_vol
    assert n_hot > 0 and cand_vol > 0, (
        "fixture must exercise both the cap and the rare buckets"
    )


def test_bpe_apply_matches_sequential_replay(spark):
    """Train + apply replayed with the DIRECT sequential algorithm:
    learn 3 merges by exact pair counting (ties lexicographic), then
    apply each merge with a plain left-to-right scan per word — the
    loop the run-parity windows replace. Every word's final token
    string must byte-match."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "text"
    ).collect()
    freq = Counter(
        w for r in rows for w in r.text.split(" ") if w != ""
    )
    state = {w: list(w) for w in freq}

    merges = []
    for _ in range(3):
        pairs = Counter()
        for w, syms in state.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freq[w]
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and (syms[i], syms[i + 1]) == best
                ):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    got = {
        r.word: r
        for r in QUERIES["bpe_apply_frozen_merges_tokenization"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(state)
    for w, syms in state.items():
        g = got[w]
        assert g.freq == freq[w]
        assert g.n_tokens == len(syms), w
        assert g.toks == "|".join(syms), w
        for i, (a, b) in enumerate(merges, start=1):
            assert getattr(g, f"merge{i}") == a + "+" + b
    # at least one word must actually shrink under the merges
    assert any(len(s) < len(w) for w, s in state.items())


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(
                    prev[j] + 1,
                    cur[-1] + 1,
                    prev[j - 1] + (ca != cb),
                )
            )
        prev = cur
    return prev[-1]


def test_edit2_complete_vs_all_pairs_scan(spark):
    """Completeness proven the hard way: the signature join's
    confirmed pair set must equal the ALL-PAIRS Levenshtein <= 2
    scan over the same vocabulary, and the signature/candidate
    economics must match direct enumeration."""
    rows = load_table(spark, SF_DIR, "documents").select(
        "text"
    ).collect()
    base = sorted(
        {
            w
            for r in rows
            for w in r.text.split(" ")
            if len(w) >= 4
        }
    )

    def planted(w):
        i0 = _md5int(w) % (len(w) - 1) + 1
        j0 = i0 + 1 + _md5int("j#" + w) % (len(w) - i0)
        return w[: i0 - 1] + w[i0 : j0 - 1] + w[j0:]

    vocab = {w: 1 for w in base}
    for w in base:
        vocab.setdefault(planted(w), 0)

    def sigs(w):
        out = {w}
        for i in range(len(w)):
            out.add(w[:i] + w[i + 1 :])
            for j in range(i + 1, len(w)):
                out.add(w[:i] + w[i + 1 : j] + w[j + 1 :])
        return out

    sigmap = {w: sigs(w) for w in vocab}
    n_signatures = sum(len(s) for s in sigmap.values())
    words = sorted(vocab)
    cand = set()
    from collections import defaultdict

    by_sig = defaultdict(list)
    for w, ss in sigmap.items():
        for s in ss:
            by_sig[s].append(w)
    for bucket in by_sig.values():
        bucket.sort()
        for x in range(len(bucket)):
            for y in range(x + 1, len(bucket)):
                cand.add((bucket[x], bucket[y]))
    confirmed = {p for p in cand if _lev(*p) <= 2}
    all_pairs = {
        (a, b)
        for ai, a in enumerate(words)
        for b in words[ai + 1 :]
        if _lev(a, b) <= 2
    }
    assert confirmed == all_pairs, "deletion signatures missed a pair"
    got = {
        (r.word_a, r.word_b): r
        for r in QUERIES["edit2_double_deletion_join_complete"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == confirmed
    for (a, b), g in got.items():
        assert g.lev == _lev(a, b) <= 2
        assert g.a_in_corpus == (vocab[a] == 1)
        assert g.b_in_corpus == (vocab[b] == 1)
        assert g.n_signatures == n_signatures
        assert g.n_candidate_pairs == len(cand)
    # distance exactly 2 must occur (the planted double deletions)
    assert any(g.lev == 2 for g in got.values())
