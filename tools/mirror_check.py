"""At-scale value verification for the north-rule fixpoint algorithms.

The driver gate's DuckDB twins for PageRank / connected components are
deliberately-naive UNROLLED iteration chains — linear per round but
intractable inside a per-query oracle budget at sf10 (measured: the
10-iteration PageRank twin alone exceeds 600s on 195M edges).  The
north star still demands value evidence at 100x, so this tool checks
the engine against an INDEPENDENT mirror with no shared code path:

- edges are loaded and deduped by **DuckDB** (same GRAPH_EDGES_SQL the
  oracles use), never by Spark, so even the input assembly is
  cross-checked;
- PageRank is recomputed in numpy: per-iteration dangling mass +
  ``np.bincount(dst, weights=rank[src]/outdeg[src])`` — the literal
  textbook superstep (same semantics as plans/pagerank.py:196-256:
  init 1/n, new = (1-d)/n + d*dm/n + d*contrib);
- connected components are recomputed with a segmented-min label
  flood (sort edges once per direction, ``np.minimum.reduceat`` per
  round, pointer-jump compression) until fixpoint — exact, no float;
- label propagation is recomputed with per-round lexsorted run counts
  over the distinct symmetrized adjacency (max neighbor-label count,
  ties to the smaller label — plans/labelprop.py:62-73's
  max(struct(cnt, -lbl)) exactly; compacted indices are
  order-isomorphic to the original ids, so tie-breaks agree).

Usage::

    SPARK_GRAFT_DRIVER_MEM=48g SPARK_GRAFT_CPUS=16 \
    SPARK_GRAFT_SHUFFLE=160 python tools/mirror_check.py testdata/sf10 \
        pagerank cc

Prints one line per check: ``pagerank: MATCH max|diff|=... (n=...)``
(PASS bar: max abs diff < 1e-12, far inside the north star's 1e-6) or
``cc: MATCH labels equal (n=...)``; any MISMATCH line is a FAIL.
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np

sys.path.insert(0, "/root/repo")

from graphjet_spark.sources.testdata import (  # noqa: E402
    GRAPH_EDGES_SQL,
    TABLES,
)

PR_TOL = 1e-12


def _scatter(uids: np.ndarray, ids: np.ndarray, vals: np.ndarray, fill):
    """Scatter engine-side (id, value) rows into uids order, verifying
    the vertex SETS match first: an engine id absent from uids would
    otherwise land in a wrong slot (or run off the end) via a raw
    searchsorted.  Returns (array, err) — err is a human-readable
    vertex-set mismatch description, or None."""
    ids = np.asarray(ids)
    pos = np.searchsorted(uids, ids)
    inside = pos < len(uids)
    member = np.zeros(len(ids), dtype=bool)
    member[inside] = uids[pos[inside]] == ids[inside]
    if not member.all():
        return None, f"{int((~member).sum())} engine ids not in mirror set"
    if len(np.unique(ids)) != len(ids):
        return None, "duplicate engine ids"
    out = np.full(len(uids), fill, dtype=np.result_type(vals, type(fill)))
    out[pos] = vals
    if len(ids) != len(uids):
        return out, None  # caller's fill check reports missing vertices
    return out, None


def _load_edges_duckdb(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    con = duckdb.connect()
    con.sql("SET memory_limit='24GB'")
    for t in ("orders", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    df = con.sql(
        f"SELECT DISTINCT src, dst FROM ({GRAPH_EDGES_SQL})"
    ).fetchnumpy()
    con.close()
    return np.asarray(df["src"], np.int64), np.asarray(df["dst"], np.int64)


def _compact(src, dst):
    uids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return uids, inv[: len(src)], inv[len(src) :]


def mirror_pagerank(uids, srci, dsti, iters: int, damping: float = 0.85):
    n = len(uids)
    outdeg = np.bincount(srci, minlength=n).astype(np.float64)
    dangling = outdeg == 0.0
    safe_deg = np.where(dangling, 1.0, outdeg)
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        dm = rank[dangling].sum()
        contrib = np.bincount(
            dsti, weights=rank[srci] / safe_deg[srci], minlength=n
        )
        rank = (1.0 - damping) / n + damping * dm / n + damping * contrib
    return rank


def mirror_cc(uids, srci, dsti):
    """Exact min-reachable-id labels: per-round segmented min over both
    edge directions + pointer-jump compression, to fixpoint."""
    n = len(uids)
    lbl = np.arange(n, dtype=np.int64)  # label = index of min id

    def _seg(keys):
        order = np.argsort(keys, kind="stable")
        sk = keys[order]
        starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
        return order, sk[starts], starts

    o_f, k_f, s_f = _seg(dsti)  # incoming per dst
    o_b, k_b, s_b = _seg(srci)  # incoming per src (reverse direction)
    while True:
        prev = lbl
        lbl = lbl.copy()
        m = np.minimum.reduceat(lbl[srci[o_f]], s_f)
        np.minimum.at(lbl, k_f, m)  # one write per distinct key
        m = np.minimum.reduceat(lbl[dsti[o_b]], s_b)
        np.minimum.at(lbl, k_b, m)
        # pointer jumping: adopt the label's label until stable
        while True:
            nxt = lbl[lbl]
            if np.array_equal(nxt, lbl):
                break
            lbl = nxt
        if np.array_equal(lbl, prev):
            break
    return uids[lbl]  # back to original-id labels


def mirror_lp(uids, srci, dsti, iters: int):
    """Exact synchronous label propagation over the DISTINCT
    symmetrized adjacency: each round every vertex adopts its
    neighbors' most frequent label, ties to the smaller label."""
    n = len(uids)
    a = np.concatenate([srci, dsti]).astype(np.int64)
    b = np.concatenate([dsti, srci]).astype(np.int64)
    keep = a != b
    key = np.unique(a[keep] * n + b[keep])  # distinct, sorted by (a,b)
    a2, b2 = key // n, key % n
    del key
    lbl = np.arange(n, dtype=np.int64)  # index labels ~ original ids
    for _ in range(iters):
        nl = lbl[b2]
        order = np.lexsort((nl, a2))
        ka, kl = a2[order], nl[order]
        bound = np.r_[True, (ka[1:] != ka[:-1]) | (kl[1:] != kl[:-1])]
        starts = np.flatnonzero(bound)
        cnt = np.diff(np.r_[starts, len(ka)])
        ra, rl = ka[starts], kl[starts]
        # winner per vertex: max count, tie -> min label
        order2 = np.lexsort((rl, -cnt, ra))
        ra2 = ra[order2]
        first = np.flatnonzero(np.r_[True, ra2[1:] != ra2[:-1]])
        new = lbl.copy()
        new[ra2[first]] = rl[order2][first]
        lbl = new
    return uids[lbl]


def _gather_ragged(vals, starts, counts):
    """Concatenate vals[starts[r] : starts[r]+counts[r]] over all r
    without a Python loop (exclusive-cumsum index arithmetic)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=vals.dtype)
    excl = np.concatenate(([0], np.cumsum(counts)[:-1]))
    idx = np.arange(total, dtype=np.int64) + np.repeat(starts - excl, counts)
    return vals[idx]


def _iter_group_pairs(vals, starts, counts, chunk=32_000_000):
    """Yield (x, y) index-pair chunks: every ordered pair (i < j,
    positional) within each group of the grouped array ``vals``
    (groups at ``starts`` with lengths ``counts``), never
    materializing more than ~``chunk`` pairs at once."""
    total = int(counts.sum())
    if total == 0:
        return
    pos = np.arange(total, dtype=np.int64)
    within = pos - np.repeat(starts, counts)
    npart = np.repeat(counts, counts) - within - 1
    cum = np.cumsum(npart)
    lo = 0
    while lo < total:
        hi = int(np.searchsorted(cum, (cum[lo - 1] if lo else 0) + chunk)) + 1
        hi = min(max(hi, lo + 1), total)
        np_slice = npart[lo:hi]
        x = np.repeat(vals[lo:hi], np_slice)
        y = _gather_ragged(vals, pos[lo:hi] + 1, np_slice)
        yield x, y
        lo = hi


def mirror_triangles(uids, srci, dsti) -> int:
    """Exact global triangle count by degree-ordered wedge checking —
    a DIFFERENT derivation from the engine's adjacency-intersection
    plan (plans/triangles.py): orient each distinct undirected edge
    low→high in (degree, id) rank order, enumerate every out-wedge
    (v, w) of each vertex, and count wedges that are themselves
    oriented edges (binary search against the sorted edge-key array).
    The count is orientation-invariant, so no engine tie-break can
    leak in."""
    n = len(uids)
    a = np.minimum(srci, dsti).astype(np.int64)
    b = np.maximum(srci, dsti).astype(np.int64)
    keep = a != b
    key = np.unique(a[keep] * n + b[keep])
    ua, ub = key // n, key % n
    deg = np.bincount(ua, minlength=n) + np.bincount(ub, minlength=n)
    rank = np.empty(n, np.int64)
    rank[np.lexsort((np.arange(n), deg))] = np.arange(n)
    ra, rb = rank[ua], rank[ub]
    lo = np.minimum(ra, rb)
    hi = np.maximum(ra, rb)
    ekey = np.sort(lo * n + hi)
    order = np.argsort(lo, kind="stable")
    lo_s, hi_s = lo[order], hi[order]
    # within each lo-group sort his ascending so wedge pairs come out
    # (smaller rank, larger rank) = potential oriented edge direction
    grp_starts = np.flatnonzero(np.r_[True, lo_s[1:] != lo_s[:-1]])
    counts = np.diff(np.r_[grp_starts, len(lo_s)])
    hi_sorted = np.sort(lo_s * n + hi_s) % n  # (lo asc, hi asc)
    tri = 0
    for x, y in _iter_group_pairs(hi_sorted, grp_starts, counts):
        wkey = x * n + y
        p = np.searchsorted(ekey, wkey)
        inside = p < len(ekey)
        tri += int((ekey[p[inside]] == wkey[inside]).sum())
    return tri


def mirror_coreness(uids, srci, dsti, iters: int):
    """Iterated-h-index core decomposition (Lü et al. 2016), the exact
    semantics of plans/kcore.py:coreness at the same round budget, but
    via one composite-key sort + segmented max per round instead of
    SQL histogram/suffix-sum — c_0 = degree over the distinct
    symmetrized adjacency, c_{t+1}(v) = h-index of v's neighbors'
    c_t."""
    n = len(uids)
    aa = np.concatenate([srci, dsti]).astype(np.int64)
    bb = np.concatenate([dsti, srci]).astype(np.int64)
    keep = aa != bb
    key = np.unique(aa[keep] * n + bb[keep])
    a2, b2 = key // n, key % n
    del key
    starts = np.flatnonzero(np.r_[True, a2[1:] != a2[:-1]])
    counts = np.diff(np.r_[starts, len(a2)])
    pos = np.arange(len(a2), dtype=np.int64)
    within = pos - np.repeat(starts, counts)
    c = np.zeros(n, dtype=np.int64)
    c[a2[starts]] = counts
    maxc = int(c.max()) if n else 0
    for _ in range(iters):
        nv = c[b2]
        # composite sort: group-major, value DESC within group
        order = np.argsort(a2 * (maxc + 2) + (maxc - nv), kind="stable")
        nv_s = nv[order]
        h = np.maximum.reduceat(np.minimum(nv_s, within + 1), starts)
        c = np.zeros(n, dtype=np.int64)
        c[a2[starts]] = h
    return c


class _SegMin:
    """Reusable segmented-min structure: sort ``keys`` ONCE, then fold
    changing values per call — the fixpoint loops re-aggregate the same
    edge relation many times and must not pay the argsort each pass."""

    def __init__(self, keys):
        self.order = np.argsort(keys, kind="stable")
        ks = keys[self.order]
        self.starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
        self.uk = ks[self.starts]

    def fold(self, dest, vals):
        if len(self.uk) == 0:
            return
        m = np.minimum.reduceat(vals[self.order], self.starts)
        np.minimum.at(dest, self.uk, m)  # one write per distinct key


def _minseg(dest, keys, vals):
    """dest[k] = min(dest[k], min of vals where keys==k)."""
    if len(keys) == 0:
        return
    _SegMin(keys).fold(dest, vals)


def mirror_scc(n, srci, dsti, max_rounds: int = 100):
    """Strongly connected components, labels = min member index —
    numpy FW-BW (trim → forward-min coloring → within-color
    backward-min capture), with pointer jumping on both propagations.
    Labels are algorithm-independent (min id per SCC), so this checks
    plans/scc.py without sharing its round structure; the kernel is
    pinned against a literal Tarjan in pytest."""
    labels = np.full(n, -1, dtype=np.int64)
    alive = np.ones(n, dtype=bool)
    s, d = srci.astype(np.int64), dsti.astype(np.int64)
    keep = s != d
    ek = np.unique(s[keep] * n + d[keep])
    s, d = ek // n, ek % n
    for _ in range(max_rounds):
        if not alive.any():
            break
        m = alive[s] & alive[d]
        s, d = s[m], d[m]
        # --- trim to fixpoint: zero in- or out-degree => singleton ---
        while True:
            has_out = np.zeros(n, bool)
            has_out[s] = True
            has_in = np.zeros(n, bool)
            has_in[d] = True
            t = alive & ~(has_out & has_in)
            if not t.any():
                break
            labels[t] = np.flatnonzero(t)
            alive[t] = False
            m = alive[s] & alive[d]
            s, d = s[m], d[m]
        if not alive.any():
            break
        # --- forward-min coloring (min over self + ancestors) --------
        col = np.arange(n, dtype=np.int64)
        fwd = _SegMin(d)
        while True:
            prev = col.copy()
            fwd.fold(col, col[s])
            while True:  # pointer jumping: an ancestor's ancestor is mine
                nxt = np.minimum(col, col[col])
                if np.array_equal(nxt, col):
                    break
                col = nxt
            if np.array_equal(col, prev):
                break
        # --- within-color backward-min capture ----------------------
        same = col[s] == col[d]
        cs, cd = s[same], d[same]
        cap = np.arange(n, dtype=np.int64)
        bwd = _SegMin(cs)
        while True:
            prev = cap.copy()
            bwd.fold(cap, cap[cd])  # reach FROM src: gather descendants
            while True:
                nxt = np.minimum(cap, cap[cap])
                if np.array_equal(nxt, cap):
                    break
                cap = nxt
            if np.array_equal(cap, prev):
                break
        captured = alive & (cap == col)
        labels[captured] = col[captured]
        alive &= ~captured
    if alive.any():
        raise RuntimeError("mirror_scc: round budget exhausted")
    return labels


# --------------------------------------------------------- text mirrors

_MERSENNE = (1 << 31) - 1
_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
# bitset words per class-pair chunk in mirror_keep_list (64-bit words)
KEEP_LIST_PAIR_WORDS = 1 << 24


def _load_docs_duckdb(sf_dir: str):
    con = duckdb.connect()
    con.sql("SET memory_limit='24GB'")
    t = con.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchnumpy()
    con.close()
    return np.asarray(t["doc_id"], np.int64), list(t["text"])


def _doc_grams(texts, n: int):
    """Per-doc DISTINCT word n-grams (first-occurrence de-dup like
    array_distinct — order is irrelevant downstream) + a global
    gram -> 60-bit md5-prefix hash memo (int(md5[:15], 16), the exact
    cross-engine _hash60)."""
    import hashlib
    import re

    ws = re.compile(r"\s+")
    memo: dict[str, int] = {}
    out = []
    for txt in texts:
        toks = [t for t in ws.split(txt) if t]
        if n == 1:
            grams = set(toks)
        elif len(toks) >= n:
            grams = {
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            }
        else:
            grams = set()
        hs = np.empty(len(grams), dtype=np.int64)
        for i, g in enumerate(grams):
            h = memo.get(g)
            if h is None:
                h = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                memo[g] = h
            hs[i] = h
        out.append(hs)
    return out


def _dedup_pairs(ia, ib, ndocs):
    pk = np.unique(ia.astype(np.int64) * ndocs + ib)
    return pk // ndocs, pk % ndocs


def mirror_minhash(doc_ids, texts, *, num_hashes=128, shingle_n=3,
                   bands=32, threshold=0.5, seed=42):
    """(doc_a, doc_b, est_jaccard) triples — the full MinHash+LSH
    pipeline (operators/dedup.py:minhash_dedup semantics) recomputed
    in numpy: md5-prefix shingle hashes mod the Mersenne prime,
    (a*x+b)%p permutation minima, verbatim band-slice buckets,
    signature-agreement estimate >= threshold."""
    rows = num_hashes // bands
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.uint64).astype(np.int64)
    b = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.uint64).astype(np.int64)
    grams = _doc_grams(texts, shingle_n)
    keep = np.array([len(g) > 0 for g in grams])
    ids = doc_ids[keep]
    arrs = [g % _MERSENNE for g, k in zip(grams, keep) if k]
    lens = np.array([len(x) for x in arrs], dtype=np.int64)
    flat = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
    offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
    nd = len(ids)
    if nd == 0:  # no document has a shingle: reduceat needs input
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)
    sig = np.empty((nd, num_hashes), dtype=np.int64)
    for i in range(num_hashes):
        vals = (a[i] * flat + b[i]) % _MERSENNE
        sig[:, i] = np.minimum.reduceat(vals, offsets)
    # banding: group docs by the verbatim rows-per-band slice
    cand_a = []
    cand_b = []
    for bidx in range(bands):
        sl = sig[:, bidx * rows : (bidx + 1) * rows]
        cols = [sl[:, j] for j in range(rows)]
        order = np.lexsort(cols[::-1])
        ss = sl[order]
        bound = np.r_[True, (ss[1:] != ss[:-1]).any(axis=1)]
        starts = np.flatnonzero(bound)
        counts = np.diff(np.r_[starts, nd])
        # lexsort is stable, so within equal bucket keys the doc
        # indices are already ascending — pairs come out a < b
        for x, y in _iter_group_pairs(order, starts, counts):
            cand_a.append(x)
            cand_b.append(y)
    if not cand_a:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)
    ia = np.concatenate(cand_a)
    ib = np.concatenate(cand_b)
    ia, ib = _dedup_pairs(ia, ib, nd)
    est = (sig[ia] == sig[ib]).sum(axis=1) / float(num_hashes)
    ok = est >= threshold
    return ids[ia[ok]], ids[ib[ok]], est[ok]


def _pop64(x):
    return _POP8[np.ascontiguousarray(x).view(np.uint8)].reshape(
        x.shape + (8,)
    ).sum(axis=-1, dtype=np.int64)


def mirror_simhash(doc_ids, texts, *, max_hamming=3, shingle_n=2):
    """(doc_a, doc_b, hamming) triples — 60-bit SimHash (per-bit
    +1/-1 vote sign over distinct shingle hashes), pigeonhole banding
    into max_hamming+1 buckets, exact XOR-popcount verification."""
    n_bands = max_hamming + 1
    width = 60 // n_bands
    grams = _doc_grams(texts, shingle_n)
    keep = np.array([len(g) > 0 for g in grams])
    ids = doc_ids[keep]
    arrs = [g for g, k in zip(grams, keep) if k]
    lens = np.array([len(x) for x in arrs], dtype=np.int64)
    flat = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
    offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
    nd = len(ids)
    if nd == 0:  # no document has a shingle: reduceat needs input
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64)
    fp = np.zeros(nd, dtype=np.int64)
    for bit in range(60):
        votes = np.add.reduceat(2 * ((flat >> bit) & 1) - 1, offsets)
        fp |= (votes > 0).astype(np.int64) << bit
    cand_a = []
    cand_b = []
    mask = (1 << width) - 1
    for bidx in range(n_bands):
        key = (fp >> (bidx * width)) & mask
        order = np.argsort(key, kind="stable")
        ks = key[order]
        starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
        counts = np.diff(np.r_[starts, nd])
        # argsort is stable: within a bucket, doc indices ascend
        for x, y in _iter_group_pairs(order, starts, counts):
            cand_a.append(x)
            cand_b.append(y)
    if not cand_a:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64)
    ia = np.concatenate(cand_a)
    ib = np.concatenate(cand_b)
    ia, ib = _dedup_pairs(ia, ib, nd)
    ham = _pop64(fp[ia] ^ fp[ib])
    ok = ham <= max_hamming
    return ids[ia[ok]], ids[ib[ok]], ham[ok]


def mirror_keep_list(doc_ids, texts, *, threshold=0.9, vocab_max=4096):
    """(doc_id, keep_id) — the end-to-end unigram-Jaccard dedup
    keep-list (operators/dedup.py:dedup_keep_list semantics): exact
    token-SET classes, class-pair Jaccard >= threshold under the exact
    integer form of ROUND(i/u, 6) >= t (i*2e6 >= u*(2e6*t - 1), no
    float boundary), connected components over the star + class-pair
    graph, keep_id = min doc id of the component.  Dense-vocabulary
    corpora only (class token sets as bitsets, all-class-pairs
    popcount)."""
    import re

    ws = re.compile(r"\s+")
    vocab: dict[str, int] = {}
    nwords_guess = vocab_max // 64 + 1
    sets = []
    for txt in texts:
        toks = {t for t in ws.split(txt) if t}
        idxs = np.empty(len(toks), np.int64)
        for i, t in enumerate(toks):
            j = vocab.get(t)
            if j is None:
                j = len(vocab)
                vocab[t] = j
            idxs[i] = j
        sets.append(idxs)
    V = len(vocab)
    if V > vocab_max:
        raise RuntimeError(f"mirror_keep_list: vocab {V} > {vocab_max}")
    W = V // 64 + 1
    nd = len(doc_ids)
    bits = np.zeros((nd, W), dtype=np.uint64)
    for r, idxs in enumerate(sets):
        if len(idxs):
            np.bitwise_or.at(
                bits[r], idxs // 64, np.uint64(1) << (idxs % 64).astype(np.uint64)
            )
    # exact-set classes
    uniq, cls_of = np.unique(bits, axis=0, return_inverse=True)
    n_cls = len(uniq)
    sz = _pop64(uniq).sum(axis=1)
    # class rep = min doc id (doc_ids sorted ascending upstream)
    rep = np.full(n_cls, np.iinfo(np.int64).max)
    np.minimum.at(rep, cls_of, doc_ids)
    # qualifying class pairs: ROUND_HALF_UP(i/u, 6) >= t, integer form
    den = 2_000_000
    num = int(round(den * threshold)) - 1
    src_e = []
    dst_e = []
    # the chunk x n_cls x W bitset AND (and _pop64's per-byte copies)
    # stays near KEEP_LIST_PAIR_WORDS words whatever the vocabulary width
    chunk = max(1, KEEP_LIST_PAIR_WORDS // max(1, n_cls * W))
    for s in range(0, n_cls, chunk):
        e = min(s + chunk, n_cls)
        inter = _pop64(uniq[s:e, None, :] & uniq[None, :, :]).sum(axis=2)
        union = sz[s:e, None] + sz[None, :] - inter
        ok = (inter * den >= union * num) & (union > 0)
        ia, ib = np.nonzero(ok)
        ia = ia + s
        keep = ia < ib
        src_e.append(ia[keep])
        dst_e.append(ib[keep])
    # star graph members -> class index node space: nodes = classes;
    # component label via mirror_cc over class graph, then keep_id =
    # min rep over component, expanded to members
    cs = np.concatenate(src_e) if src_e else np.empty(0, np.int64)
    cd = np.concatenate(dst_e) if dst_e else np.empty(0, np.int64)
    comp = np.arange(n_cls, dtype=np.int64)
    if len(cs):
        cids = np.arange(n_cls, dtype=np.int64)
        lbl = mirror_cc(cids, cs, cd)  # min class index per component
        comp = lbl
    # keep_id = min rep over the component (rep of min class index is
    # NOT necessarily the min doc — take a segmented min over reps)
    keep_id_cls = np.full(n_cls, np.iinfo(np.int64).max)
    np.minimum.at(keep_id_cls, comp, rep)
    keep_per_cls = keep_id_cls[comp]
    # docs with empty token sets form a class too (empty bitset) — the
    # engine EXCLUDES them from the pair graph (no tokens => no rows in
    # token_sets) so they keep themselves
    empty_cls = np.flatnonzero(sz == 0)
    out = keep_per_cls[cls_of]
    if len(empty_cls):
        is_empty = np.isin(cls_of, empty_cls)
        out = np.where(is_empty, doc_ids, out)
    return out


def main() -> int:
    sf_dir = sys.argv[1]
    checks = sys.argv[2:] or ["pagerank", "cc"]

    t0 = time.time()
    src, dst = _load_edges_duckdb(sf_dir)
    uids, srci, dsti = _compact(src, dst)
    print(
        f"edges loaded via DuckDB: {len(src)} pairs, {len(uids)} vertices"
        f" [{time.time() - t0:.1f}s]",
        flush=True,
    )

    from graphjet_spark.session import get_spark  # noqa: E402

    spark = get_spark(
        "mirror_check", extra_conf={"spark.driver.maxResultSize": "6g"}
    )
    import __spark_entry__ as entry_mod  # noqa: E402
    from graphjet_spark.plans.components import (  # noqa: E402
        connected_components,
    )
    from graphjet_spark.plans.context import GraphTables  # noqa: E402
    from graphjet_spark.plans.pagerank import pagerank  # noqa: E402
    from graphjet_spark.sources import testdata  # noqa: E402

    tables = GraphTables(testdata.graph_edges(spark, sf_dir))
    failures = 0

    if "pagerank" in checks:
        t0 = time.time()
        pr = pagerank(
            spark, tables.pairs, fixed_iters=entry_mod.PR_ITERS
        ).toPandas()
        t1 = time.time()
        want = mirror_pagerank(uids, srci, dsti, entry_mod.PR_ITERS)
        t2 = time.time()
        got, verr = _scatter(
            uids, pr["id"].to_numpy(), pr["pagerank"].to_numpy(), np.nan
        )
        if verr is not None or np.isnan(got).any():
            print(
                f"pagerank: MISMATCH vertex sets differ"
                f" ({verr or 'engine missing vertices'})",
                flush=True,
            )
            failures += 1
        else:
            d = float(np.abs(got - want).max())
            ok = d < PR_TOL
            print(
                f"pagerank: {'MATCH' if ok else 'MISMATCH'} max|diff|={d:.3e}"
                f" (n={len(uids)}, tol={PR_TOL:g}, north-star 1e-6)"
                f" [spark {t1 - t0:.1f}s, numpy {t2 - t1:.1f}s]",
                flush=True,
            )
            failures += 0 if ok else 1

    if "lp" in checks:
        from graphjet_spark.plans.labelprop import (  # noqa: E402
            label_propagation,
        )

        t0 = time.time()
        lp = label_propagation(
            spark, tables.pairs, iters=entry_mod.LP_ITERS
        ).toPandas()
        t1 = time.time()
        want = mirror_lp(uids, srci, dsti, entry_mod.LP_ITERS)
        t2 = time.time()
        got, verr = _scatter(
            uids, lp["id"].to_numpy(), lp["label"].to_numpy(), np.int64(-1)
        )
        if verr is not None:
            print(f"lp: MISMATCH vertex sets differ ({verr})", flush=True)
            failures += 1
            got = np.full(len(uids), -2, dtype=np.int64)
        bad = int((got != want).sum())
        ok = verr is None and bad == 0
        print(
            f"lp: {'MATCH labels equal' if ok else f'MISMATCH {bad} labels'}"
            f" (n={len(uids)}, iters={entry_mod.LP_ITERS},"
            f" distinct_labels={len(np.unique(want))})"
            f" [spark {t1 - t0:.1f}s, numpy {t2 - t1:.1f}s]",
            flush=True,
        )
        failures += 0 if ok else 1

    if "triangles" in checks:
        from graphjet_spark.plans.triangles import triangle_count  # noqa: E402

        t0 = time.time()
        eng = int(
            triangle_count(spark, tables.pairs).collect()[0]["triangles"]
        )
        t1 = time.time()
        want = mirror_triangles(uids, srci, dsti)
        t2 = time.time()
        ok = eng == want
        print(
            f"triangles: {'MATCH' if ok else 'MISMATCH'} engine={eng}"
            f" mirror={want}"
            f" [spark {t1 - t0:.1f}s, numpy {t2 - t1:.1f}s]",
            flush=True,
        )
        failures += 0 if ok else 1

    if "coreness" in checks:
        from graphjet_spark.plans.kcore import coreness  # noqa: E402

        t0 = time.time()
        cr = coreness(
            spark, tables.pairs, fixed_iters=entry_mod.CORENESS_ITERS
        ).toPandas()
        t1 = time.time()
        want = mirror_coreness(uids, srci, dsti, entry_mod.CORENESS_ITERS)
        t2 = time.time()
        got, verr = _scatter(
            uids, cr["id"].to_numpy(), cr["coreness"].to_numpy(), np.int64(-1)
        )
        if verr is not None:
            print(f"coreness: MISMATCH vertex sets differ ({verr})", flush=True)
            failures += 1
            got = np.full(len(uids), -2, dtype=np.int64)
        bad = int((got != want).sum())
        ok = verr is None and bad == 0
        print(
            f"coreness: {'MATCH values equal' if ok else f'MISMATCH {bad} values'}"
            f" (n={len(uids)}, iters={entry_mod.CORENESS_ITERS},"
            f" max_core={int(want.max()) if len(want) else 0})"
            f" [spark {t1 - t0:.1f}s, numpy {t2 - t1:.1f}s]",
            flush=True,
        )
        failures += 0 if ok else 1

    if "scc" in checks:
        from pyspark.sql import functions as F  # noqa: E402

        from graphjet_spark.plans.scc import (  # noqa: E402
            strongly_connected_components,
        )

        t0 = time.time()
        back = tables.pairs.filter(
            F.pmod(F.col("src") + F.col("dst"), F.lit(5)) == 0
        ).select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        sc_df = strongly_connected_components(
            spark, tables.pairs.unionByName(back)
        ).toPandas()
        t1 = time.time()
        # same enrichment on the DuckDB-loaded edges
        bmask = (src + dst) % 5 == 0
        s_e = np.concatenate([srci, dsti[bmask]])
        d_e = np.concatenate([dsti, srci[bmask]])
        lbl_idx = mirror_scc(len(uids), s_e, d_e)
        want = uids[lbl_idx]
        t2 = time.time()
        got, verr = _scatter(
            uids, sc_df["id"].to_numpy(), sc_df["scc"].to_numpy(), np.int64(-1)
        )
        if verr is not None:
            print(f"scc: MISMATCH vertex sets differ ({verr})", flush=True)
            failures += 1
            got = np.full(len(uids), -2, dtype=np.int64)
        bad = int((got != want).sum())
        ok = verr is None and bad == 0
        print(
            f"scc: {'MATCH labels equal' if ok else f'MISMATCH {bad} labels'}"
            f" (n={len(uids)}, sccs={len(np.unique(want))})"
            f" [spark {t1 - t0:.1f}s, numpy {t2 - t1:.1f}s]",
            flush=True,
        )
        failures += 0 if ok else 1

    if "cc_star" in checks:
        from graphjet_spark.plans.components import (  # noqa: E402
            connected_components_star,
        )

        t0 = time.time()
        ccs = connected_components_star(spark, tables.pairs).toPandas()
        t1 = time.time()
        want = mirror_cc(uids, srci, dsti)
        t2 = time.time()
        got, verr = _scatter(
            uids, ccs["id"].to_numpy(), ccs["component"].to_numpy(),
            np.int64(-1),
        )
        if verr is not None:
            print(f"cc_star: MISMATCH vertex sets differ ({verr})", flush=True)
            failures += 1
            got = np.full(len(uids), -2, dtype=np.int64)
        bad = int((got != want).sum())
        ok = verr is None and bad == 0
        print(
            f"cc_star: {'MATCH labels equal' if ok else f'MISMATCH {bad} labels'}"
            f" (n={len(uids)}) [spark {t1 - t0:.1f}s, numpy {t2 - t1:.1f}s]",
            flush=True,
        )
        failures += 0 if ok else 1

    text_checks = {"minhash", "simhash", "keep_list"} & set(checks)
    if text_checks:
        t0 = time.time()
        doc_ids, texts = _load_docs_duckdb(sf_dir)
        print(
            f"documents loaded via DuckDB: {len(doc_ids)} docs"
            f" [{time.time() - t0:.1f}s]",
            flush=True,
        )
        qmap = entry_mod.queries()

    def _pair_check(name, qname, kernel, val_col, val_cast):
        t0 = time.time()
        eng = qmap[qname](spark, sf_dir).toPandas()
        t1 = time.time()
        ia, ib, vv = kernel(doc_ids, texts)
        t2 = time.time()
        got = {
            (int(r.doc_a), int(r.doc_b)): val_cast(getattr(r, val_col))
            for r in eng.itertuples()
        }
        want = {
            (int(x), int(y)): val_cast(v) for x, y, v in zip(ia, ib, vv)
        }
        ok = got == want
        diff = len(set(got.items()) ^ set(want.items()))
        print(
            f"{name}: {'MATCH pairs equal' if ok else f'MISMATCH {diff} pair-values differ'}"
            f" (engine={len(got)}, mirror={len(want)})"
            f" [spark {t1 - t0:.1f}s, numpy {t2 - t1:.1f}s]",
            flush=True,
        )
        return 0 if ok else 1

    if "minhash" in checks:
        failures += _pair_check(
            "minhash", "minhash_near_dups", mirror_minhash,
            "est_jaccard", float,
        )
    if "simhash" in checks:
        failures += _pair_check(
            "simhash", "simhash_near_dups", mirror_simhash, "hamming", int
        )
    if "keep_list" in checks:
        t0 = time.time()
        eng = qmap["dedup_keep_list"](spark, sf_dir).toPandas()
        t1 = time.time()
        want = mirror_keep_list(doc_ids, texts)
        t2 = time.time()
        e = eng.sort_values("doc_id")
        ok = np.array_equal(
            e["doc_id"].to_numpy(), doc_ids
        ) and np.array_equal(e["keep_id"].to_numpy(), want)
        bad = (
            0 if ok else int((e["keep_id"].to_numpy() != want).sum())
        )
        print(
            f"keep_list: {'MATCH keep ids equal' if ok else f'MISMATCH {bad} keep ids'}"
            f" (n={len(doc_ids)}, keepers={len(np.unique(want))})"
            f" [spark {t1 - t0:.1f}s, numpy {t2 - t1:.1f}s]",
            flush=True,
        )
        failures += 0 if ok else 1

    if "cc" in checks:
        t0 = time.time()
        cc = connected_components(spark, tables.pairs).toPandas()
        t1 = time.time()
        want = mirror_cc(uids, srci, dsti)
        t2 = time.time()
        got, verr = _scatter(
            uids, cc["id"].to_numpy(), cc["component"].to_numpy(), np.int64(-1)
        )
        if verr is not None:
            print(f"cc: MISMATCH vertex sets differ ({verr})", flush=True)
            failures += 1
            got = np.full(len(uids), -2, dtype=np.int64)
        bad = int((got != want).sum())
        ok = verr is None and bad == 0
        print(
            f"cc: {'MATCH labels equal' if ok else f'MISMATCH {bad} labels'}"
            f" (n={len(uids)}, components={len(np.unique(want))})"
            f" [spark {t1 - t0:.1f}s, numpy {t2 - t1:.1f}s]",
            flush=True,
        )
        failures += 0 if ok else 1

    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
