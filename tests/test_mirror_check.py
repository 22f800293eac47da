"""The at-scale numpy mirrors (tools/mirror_check.py) are themselves
verified here against brute-force implementations on a random graph
with dangling vertices and multiple components — the mirror that
value-checks the engine at sf10 must not be wrong in the same way the
engine could be."""

from __future__ import annotations

import collections
import importlib.util

import numpy as np


def _load():
    spec = importlib.util.spec_from_file_location(
        "mirror_check", "/root/repo/tools/mirror_check.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _graph(seed=0, n_src=200, n_dst=220, m=600):
    rng = np.random.default_rng(seed)
    src = rng.integers(0, n_src, m)
    dst = rng.integers(0, n_dst, m)
    keep = src != dst
    pairs = np.unique(np.stack([src[keep], dst[keep]], 1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def test_mirror_pagerank_matches_bruteforce():
    mc = _load()
    src, dst = _graph()
    uids, srci, dsti = mc._compact(src, dst)
    n, d = len(uids), 0.85
    outdeg = np.bincount(srci, minlength=n).astype(float)
    r = np.full(n, 1 / n)
    for _ in range(10):
        dm = r[outdeg == 0].sum()
        contrib = np.zeros(n)
        for s, t in zip(srci, dsti):
            contrib[t] += r[s] / outdeg[s]
        r = (1 - d) / n + d * dm / n + d * contrib
    got = mc.mirror_pagerank(uids, srci, dsti, 10)
    assert np.abs(got - r).max() < 1e-15


def test_mirror_lp_matches_bruteforce():
    mc = _load()
    for seed in (0, 3):
        src, dst = _graph(seed)
        uids, srci, dsti = mc._compact(src, dst)
        n = len(uids)
        # brute force: distinct symmetrized neighbor sets, synchronous
        # rounds, max label count with ties to the smaller label
        nbrs = [set() for _ in range(n)]
        for s, t in zip(srci, dsti):
            if s != t:
                nbrs[s].add(t)
                nbrs[t].add(s)
        lbl = list(range(n))
        for _ in range(5):
            new = lbl[:]
            for v in range(n):
                if not nbrs[v]:
                    continue
                counts: dict[int, int] = {}
                for u in nbrs[v]:
                    counts[lbl[u]] = counts.get(lbl[u], 0) + 1
                best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
                new[v] = best[0]
            lbl = new
        want = uids[np.array(lbl)]
        got = mc.mirror_lp(uids, srci, dsti, 5)
        assert np.array_equal(got, want), seed


def test_mirror_cc_matches_bfs():
    mc = _load()
    for seed in (0, 1, 2):
        src, dst = _graph(seed)
        uids, srci, dsti = mc._compact(src, dst)
        n = len(uids)
        adj = collections.defaultdict(list)
        for s, t in zip(srci, dsti):
            adj[s].append(t)
            adj[t].append(s)
        lbl = -np.ones(n, dtype=np.int64)
        for i in range(n):
            if lbl[i] >= 0:
                continue
            comp, q = {i}, [i]
            while q:
                x = q.pop()
                for y in adj[x]:
                    if y not in comp:
                        comp.add(y)
                        q.append(y)
            m = uids[min(comp)]  # uids sorted: min index == min id
            for x in comp:
                lbl[x] = m
        got = mc.mirror_cc(uids, srci, dsti)
        assert np.array_equal(got, lbl), seed


def test_mirror_triangles_matches_bruteforce():
    import itertools

    mc = _load()
    for seed in (0, 1):
        rng = np.random.default_rng(seed)
        src = rng.integers(0, 60, 400)
        dst = rng.integers(0, 60, 400)
        uids, srci, dsti = mc._compact(src, dst)
        n = len(uids)
        adj = collections.defaultdict(set)
        for s, t in zip(srci, dsti):
            if s != t:
                adj[s].add(t)
                adj[t].add(s)
        want = sum(
            1
            for a, b, c in itertools.combinations(range(n), 3)
            if b in adj[a] and c in adj[a] and c in adj[b]
        )
        assert mc.mirror_triangles(uids, srci, dsti) == want, seed


def test_mirror_coreness_matches_bruteforce_h_index():
    mc = _load()
    for seed in (0, 2):
        rng = np.random.default_rng(seed)
        src = rng.integers(0, 60, 400)
        dst = rng.integers(0, 60, 400)
        uids, srci, dsti = mc._compact(src, dst)
        n = len(uids)
        adj = collections.defaultdict(set)
        for s, t in zip(srci, dsti):
            if s != t:
                adj[s].add(t)
                adj[t].add(s)
        c = {v: len(adj[v]) for v in range(n)}
        for _ in range(12):
            nc = {}
            for v in range(n):
                vals = sorted((c[u] for u in adj[v]), reverse=True)
                h = 0
                for i, x in enumerate(vals):
                    h = max(h, min(x, i + 1))
                nc[v] = h
            c = nc
        want = np.array([c[v] for v in range(n)])
        got = mc.mirror_coreness(uids, srci, dsti, 12)
        assert np.array_equal(got, want), seed


def test_mirror_coreness_fixpoint_is_peeling_coreness():
    """At convergence the iterated h-index IS the classic peeling
    coreness (Lu et al. 2016) — peel brute-force and compare."""
    mc = _load()
    rng = np.random.default_rng(5)
    src = rng.integers(0, 50, 300)
    dst = rng.integers(0, 50, 300)
    uids, srci, dsti = mc._compact(src, dst)
    n = len(uids)
    adj = collections.defaultdict(set)
    for s, t in zip(srci, dsti):
        if s != t:
            adj[s].add(t)
            adj[t].add(s)
    deg = {v: len(adj[v]) for v in range(n)}
    alive = set(range(n))
    core = {}
    k = 0
    while alive:
        while True:
            peel = [v for v in alive if deg[v] <= k]
            if not peel:
                break
            for v in peel:
                core[v] = k
                alive.discard(v)
                for u in adj[v]:
                    if u in alive:
                        deg[u] -= 1
        k += 1
    want = np.array([core[v] for v in range(n)])
    got = mc.mirror_coreness(uids, srci, dsti, 60)  # past convergence
    assert np.array_equal(got, want)


def test_mirror_scc_matches_tarjan():
    import sys

    mc = _load()
    sys.setrecursionlimit(20000)
    for seed in (0, 1, 4):
        rng = np.random.default_rng(seed)
        src = rng.integers(0, 80, 500)
        dst = rng.integers(0, 80, 500)
        uids, srci, dsti = mc._compact(src, dst)
        n = len(uids)
        dadj = collections.defaultdict(set)
        for s, t in zip(srci, dsti):
            if s != t:
                dadj[s].add(t)
        index: dict[int, int] = {}
        low: dict[int, int] = {}
        onstk: dict[int, bool] = {}
        stk: list[int] = []
        counter = [0]
        comps = []

        def strong(v):
            index[v] = low[v] = counter[0]
            counter[0] += 1
            stk.append(v)
            onstk[v] = True
            for w in dadj[v]:
                if w not in index:
                    strong(w)
                    low[v] = min(low[v], low[w])
                elif onstk.get(w):
                    low[v] = min(low[v], index[w])
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stk.pop()
                    onstk[w] = False
                    comp.append(w)
                    if w == v:
                        break
                comps.append(comp)

        for v in range(n):
            if v not in index:
                strong(v)
        want = np.empty(n, np.int64)
        for comp in comps:
            m = min(comp)
            for v in comp:
                want[v] = m
        got = mc.mirror_scc(n, srci, dsti)
        assert np.array_equal(got, want), seed


def _dup_corpus(seed=7, n_base=15):
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(12)]
    base = [" ".join(rng.choice(vocab, 10)) for _ in range(n_base)]
    texts = []
    for t in base:
        texts.append(t)
        texts.append(t)  # exact dup
        toks = t.split()
        toks[3] = "zzz"
        texts.append(" ".join(toks))  # near dup
    return np.arange(100, 100 + len(texts), dtype=np.int64), texts


def _brute_grams(t, n):
    import re

    toks = [x for x in re.split(r"\s+", t) if x]
    if n == 1:
        return set(toks)
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _h60(s):
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_mirror_minhash_matches_bruteforce():
    import itertools

    mc = _load()
    doc_ids, texts = _dup_corpus()
    MER = (1 << 31) - 1
    rng = np.random.default_rng(42)
    a = rng.integers(1, MER, size=128, dtype=np.uint64).astype(np.int64)
    b = rng.integers(0, MER, size=128, dtype=np.uint64).astype(np.int64)
    sigs = {}
    for d, t in zip(doc_ids, texts):
        g = _brute_grams(t, 3)
        if not g:
            continue
        hs = np.array([_h60(x) % MER for x in g], dtype=np.int64)
        sigs[d] = np.array(
            [((a[i] * hs + b[i]) % MER).min() for i in range(128)]
        )
    want = {}
    for x, y in itertools.combinations(sorted(sigs), 2):
        sx, sy = sigs[x], sigs[y]
        if any(
            np.array_equal(sx[i * 4 : (i + 1) * 4], sy[i * 4 : (i + 1) * 4])
            for i in range(32)
        ):
            est = (sx == sy).sum() / 128
            if est >= 0.5:
                want[(x, y)] = float(est)
    ia, ib, est = mc.mirror_minhash(doc_ids, texts)
    got = {(int(x), int(y)): float(e) for x, y, e in zip(ia, ib, est)}
    assert got == want and len(got) > 0


def test_mirror_simhash_matches_bruteforce():
    import itertools

    mc = _load()
    doc_ids, texts = _dup_corpus()
    fps = {}
    for d, t in zip(doc_ids, texts):
        g = _brute_grams(t, 2)
        if not g:
            continue
        fp = 0
        for bit in range(60):
            vote = sum(1 if (_h60(x) >> bit) & 1 else -1 for x in g)
            if vote > 0:
                fp |= 1 << bit
        fps[d] = fp
    want = {}
    for x, y in itertools.combinations(sorted(fps), 2):
        fx, fy = fps[x], fps[y]
        if any(
            ((fx >> (i * 15)) & 0x7FFF) == ((fy >> (i * 15)) & 0x7FFF)
            for i in range(4)
        ):
            ham = bin(fx ^ fy).count("1")
            if ham <= 3:
                want[(x, y)] = ham
    ia, ib, ham = mc.mirror_simhash(doc_ids, texts)
    got = {(int(x), int(y)): int(h) for x, y, h in zip(ia, ib, ham)}
    assert got == want and len(got) > 0


def test_mirror_keep_list_matches_bruteforce():
    import itertools

    mc = _load()
    doc_ids, texts = _dup_corpus()
    setmap = {d: _brute_grams(t, 1) for d, t in zip(doc_ids, texts)}
    adj = collections.defaultdict(set)
    docs = sorted(setmap)
    for x, y in itertools.combinations(docs, 2):
        sx, sy = setmap[x], setmap[y]
        if not sx or not sy:
            continue
        i = len(sx & sy)
        u = len(sx | sy)
        # exact integer form of ROUND_HALF_UP(i/u, 6) >= 0.9
        if i * 2_000_000 >= u * 1_799_999:
            adj[x].add(y)
            adj[y].add(x)
    keep = {}
    seen: set = set()
    for d in docs:
        if d in seen:
            continue
        comp, q = {d}, [d]
        while q:
            v = q.pop()
            for w in adj[v]:
                if w not in comp:
                    comp.add(w)
                    q.append(w)
        m = min(comp)
        for v in comp:
            keep[v] = m
        seen |= comp
    want = np.array([keep[d] for d in doc_ids])
    got = mc.mirror_keep_list(doc_ids, texts)
    assert np.array_equal(got, want)


def test_mirror_minhash_simhash_empty_when_no_shingles():
    """A corpus where no document yields a shingle (every text shorter
    than the shingle width) has no candidate pairs, the same as the
    brute force, instead of failing inside reduceat."""
    mc = _load()
    doc_ids = np.arange(5, dtype=np.int64)
    texts = ["", "a", "b", " ", "c"]
    assert all(not _brute_grams(t, 2) and not _brute_grams(t, 3) for t in texts)
    for got in (mc.mirror_minhash(doc_ids, texts), mc.mirror_simhash(doc_ids, texts)):
        assert [len(x) for x in got] == [0, 0, 0]
        assert got[0].dtype == got[1].dtype == np.int64


def test_mirror_keep_list_wide_vocab_chunks_bounded(monkeypatch):
    """Across a vocabulary many bitset words wide, the class-pair chunks
    are sized by words, not pairs: the answer still matches the brute
    force, and peak memory stays near the word budget."""
    import itertools
    import tracemalloc

    mc = _load()
    rng = np.random.default_rng(3)
    vocab = [f"t{i}" for i in range(640)]  # W = 11 words per bitset
    texts = []
    for _ in range(100):
        toks = list(rng.choice(vocab, 30, replace=False))
        texts.append(" ".join(toks))
        texts.append(" ".join(toks[::-1]))  # same token set
        fresh = next(t for t in vocab if t not in toks)
        texts.append(" ".join(toks[:29] + [fresh]))  # Jaccard 29/31
    doc_ids = np.arange(len(texts), dtype=np.int64)
    sets = [_brute_grams(t, 1) for t in texts]
    keep = list(range(len(texts)))

    def find(v):
        while keep[v] != v:
            v = keep[v]
        return v

    for x, y in itertools.combinations(range(len(texts)), 2):
        i, u = len(sets[x] & sets[y]), len(sets[x] | sets[y])
        if i * 2_000_000 >= u * 1_799_999:
            rx, ry = find(x), find(y)
            keep[max(rx, ry)] = min(rx, ry)
    want = np.array([find(v) for v in range(len(texts))])
    assert len(set(want)) <= 100

    monkeypatch.setattr(mc, "KEEP_LIST_PAIR_WORDS", 1 << 12)
    tracemalloc.start()
    try:
        got = mc.mirror_keep_list(doc_ids, texts)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert np.array_equal(got, want)
    # one chunk here is 1 x 200 classes x 11 words; sizing by pairs
    # alone would take 20 rows at a time (~1.4 MB across its copies)
    assert peak < 512 * 1024, peak
