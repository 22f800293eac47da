"""Randomized structural tests (hypothesis) — the engine analogue of the
reference's random-graph consistency suites (graphjet-core/src/test/
java/com/twitter/graphjet/bipartite/MultiSegmentPowerLawBipartiteGraph
Test.java:216-258, random graphs via BipartiteGraphTestHelper.
buildRandomBipartiteGraph checked for iterator/degree consistency)."""

from __future__ import annotations

import random
from collections import Counter
from itertools import combinations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from graphjet_spark.operators.degrees import degree_table
from graphjet_spark.plans.components import (
    connected_components,
    connected_components_star,
)
from graphjet_spark.plans.triangles import triangle_count

edges_strategy = st.lists(
    st.tuples(st.integers(1, 10), st.integers(1, 10)),
    min_size=1,
    max_size=25,
)

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


@given(pairs=edges_strategy)
@SLOW
def test_degree_table_consistent(spark, pairs):
    got = {
        r["id"]: (r["out_degree"], r["in_degree"])
        for r in degree_table(_df(spark, pairs)).collect()
    }
    out_c, in_c = Counter(s for s, _ in pairs), Counter(d for _, d in pairs)
    for v in set(out_c) | set(in_c):
        assert got[v] == (out_c[v], in_c[v])


@given(pairs=edges_strategy)
@SLOW
def test_components_match_union_find(spark, pairs):
    pairs = [(s, d) for s, d in pairs if s != d]
    if not pairs:
        return
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in pairs:
        parent[find(s)] = find(d)
    got = {
        r["id"]: r["component"]
        for r in connected_components(spark, _df(spark, pairs)).collect()
    }
    # same partition of the vertex set, and labels are component minima
    roots = {}
    for v in got:
        roots.setdefault(find(v), []).append(v)
    for members in roots.values():
        labels = {got[v] for v in members}
        assert labels == {min(members)}


@given(pairs=edges_strategy)
@SLOW
def test_components_star_match_union_find(spark, pairs):
    """Large-star/small-star CC partitions identically to union-find
    with component-min labels — same contract as hash-min flooding."""
    pairs = [(s, d) for s, d in pairs if s != d]
    if not pairs:
        return
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in pairs:
        parent[find(s)] = find(d)
    got = {
        r["id"]: r["component"]
        for r in connected_components_star(spark, _df(spark, pairs)).collect()
    }
    roots = {}
    for v in got:
        roots.setdefault(find(v), []).append(v)
    for members in roots.values():
        assert {got[v] for v in members} == {min(members)}


def test_components_star_log_rounds_on_path(spark):
    """On a 200-node path graph (diameter 199) star contraction
    converges in O(log n) rounds — the case where hash-min flooding
    needs O(n) supersteps (its 12-iteration gate mode would be far from
    converged here)."""
    n = 200
    pairs = [(i, i + 1) for i in range(1, n)]
    stats: dict = {}
    got = {
        r["id"]: r["component"]
        for r in connected_components_star(
            spark, _df(spark, pairs), stats=stats
        ).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}
    assert len(stats["supersteps"]) <= 12  # ~log2(200) + slack; hash-min needs ~200


def test_components_star_round_cap_one_row_per_vertex(spark):
    """Stopped by ``max_rounds`` before convergence, star CC still gives
    one row per vertex, labelled with a vertex of its own component no
    larger than itself."""
    rng = random.Random(3)
    pairs = [(rng.randrange(200), rng.randrange(200)) for _ in range(300)]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in pairs:
        if s != d:
            parent[find(s)] = find(d)
    vertices = {v for s, d in pairs if s != d for v in (s, d)}
    for rounds in (1, 2):
        rows = connected_components_star(
            spark, _df(spark, pairs), max_rounds=rounds
        ).collect()
        got = {r["id"]: r["component"] for r in rows}
        assert len(rows) == len(got) and got.keys() == vertices
        assert all(find(c) == find(v) and c <= v for v, c in got.items())


@given(pairs=edges_strategy)
@SLOW
def test_triangles_match_enumeration_and_orientation(spark, pairs):
    und = {frozenset(p) for p in pairs if p[0] != p[1]}
    if not und:
        return
    verts = sorted({x for e in und for x in e})
    want = sum(
        1
        for a, b, c in combinations(verts, 3)
        if {frozenset((a, b)), frozenset((b, c)), frozenset((a, c))} <= und
    )
    got = triangle_count(spark, _df(spark, pairs)).first()["triangles"]
    assert got == want
    # orientation invariance: reversing every edge changes nothing
    rev = [(d, s) for s, d in pairs]
    assert triangle_count(spark, _df(spark, rev)).first()["triangles"] == want


@given(pairs=edges_strategy)
@SLOW
def test_k_truss_matches_peeling(spark, pairs):
    """k-truss (k=3,4) equals literal support peeling on random graphs."""
    from graphjet_spark.plans.ktruss import k_truss

    und = {(min(s, d), max(s, d)) for s, d in pairs if s != d}
    if not und:
        return

    def mirror(k):
        surv = set(und)
        while True:
            adj: dict = {}
            for a, b in surv:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
            drop = {(a, b) for a, b in surv if len(adj[a] & adj[b]) < k - 2}
            if not drop:
                return surv
            surv -= drop

    for k in (3, 4):
        got = {
            (r["a"], r["b"])
            for r in k_truss(spark, _df(spark, pairs), k, fixed_iters=10).collect()
        }
        assert got == mirror(k), k


@given(pairs=edges_strategy)
@SLOW
def test_adamic_adar_matches_bruteforce(spark, pairs):
    """Degree-capped Adamic-Adar equals brute-force enumeration."""
    import math

    from graphjet_spark.operators.linkpred import adamic_adar_pairs

    adj: dict = {}
    for s, d in pairs:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    if not adj:
        return
    cap = 5
    want: dict = {}
    for c, nbrs in adj.items():
        deg = len(nbrs)
        if deg < 2 or deg > cap:
            continue
        for u in nbrs:
            for v in nbrs:
                if u < v:
                    cm, aa = want.get((u, v), (0, 0.0))
                    want[(u, v)] = (cm + 1, aa + 1.0 / math.log(deg))
    want = {
        k: (cm, round(aa, 6)) for k, (cm, aa) in want.items() if cm >= 1
    }
    got = {
        (r["id_a"], r["id_b"]): (r["common"], r["aa"])
        for r in adamic_adar_pairs(
            spark, _df(spark, pairs), max_center_degree=cap, min_common=1
        ).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-6)


@given(pairs=edges_strategy)
@SLOW
def test_local_clustering_matches_bruteforce(spark, pairs):
    from graphjet_spark.plans.graphstats import local_clustering

    adj: dict = {}
    for s, d in pairs:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    if not adj:
        return
    got = {
        r["id"]: (r["deg"], r["lcc"])
        for r in local_clustering(spark, _df(spark, pairs)).collect()
    }
    assert got.keys() == adj.keys()
    for v, nbrs in adj.items():
        d = len(nbrs)
        t = sum(len(adj[u] & nbrs) for u in nbrs) // 2
        want = 2.0 * t / (d * (d - 1)) if d >= 2 else 0.0
        assert got[v][0] == d
        assert got[v][1] == pytest.approx(want, abs=1e-6)


@given(pairs=edges_strategy)
@SLOW
def test_sssp_matches_bellman_ford(spark, pairs):
    """Weighted SSSP equals a literal Bellman-Ford with the shared
    derived weight on random graphs."""
    from graphjet_spark.plans.sssp import sssp

    src = pairs[0][0]
    w = {(s, d): 1 + d % 7 for s, d in set(pairs)}
    dist = {src: 0}
    for _ in range(12):
        for (s, d), wt in w.items():
            if s in dist and dist[s] + wt < dist.get(d, 1 << 60):
                dist[d] = dist[s] + wt
    got = {
        r["id"]: r["dist"]
        for r in sssp(spark, _df(spark, pairs), src, fixed_iters=12).collect()
    }
    assert got == dist


@given(pairs=edges_strategy)
@SLOW
def test_modularity_matches_bruteforce(spark, pairs):
    """Modularity of the LP partition equals the closed-form Q computed
    from the same labels."""
    from graphjet_spark.plans.labelprop import label_propagation, modularity

    und = {(s, d) for s, d in pairs if s != d}
    if not und:
        return
    labels_df = label_propagation(spark, _df(spark, pairs), iters=3)
    labels = {r["id"]: r["label"] for r in labels_df.collect()}
    adj: dict = {}
    for s, d in und:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    S = sum(len(n) for n in adj.values())
    per_c: dict = {}
    for v, nbrs in adj.items():
        c = labels[v]
        sc, dc = per_c.get(c, (0, 0))
        sc += sum(1 for u in nbrs if labels[u] == c)
        dc += len(nbrs)
        per_c[c] = (sc, dc)
    want = sum(sc / S - (dc / S) ** 2 for sc, dc in per_c.values())
    got = modularity(spark, _df(spark, pairs), labels_df).first()
    assert got["communities"] == len(per_c)
    assert got["modularity"] == pytest.approx(want, abs=1e-6)


@given(pairs=edges_strategy)
@SLOW
def test_assortativity_matches_numpy(spark, pairs):
    import numpy as np

    from graphjet_spark.plans.graphstats import degree_assortativity

    adj: dict = {}
    for s, d in pairs:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    xs, ys = [], []
    for a, nbrs in adj.items():
        for b in nbrs:
            xs.append(len(adj[a]))
            ys.append(len(adj[b]))
    if not xs:
        return
    row = degree_assortativity(_df(spark, pairs)).first()
    assert row["n_ends"] == len(xs)
    with np.errstate(invalid="ignore"):
        want = np.corrcoef(xs, ys)[0, 1]
    if np.isnan(want):
        assert row["assortativity"] is None
    else:
        assert row["assortativity"] == pytest.approx(want, abs=1e-6)


@given(pairs=edges_strategy)
@SLOW
def test_hash_walk_corpus_valid_on_random_graphs(spark, pairs):
    """Every consecutive hop is a real edge; one walk per out-vertex."""
    from graphjet_spark.plans.walks import hash_walk_corpus

    out: dict = {}
    for s, d in set(pairs):
        out.setdefault(s, set()).add(d)
    rows = hash_walk_corpus(spark, _df(spark, pairs), length=3).collect()
    walks: dict = {}
    for r in rows:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    assert set(walks) == set(out)
    for wid, steps in walks.items():
        assert steps[0] == wid
        ks = sorted(steps)
        for i in range(1, len(ks)):
            assert steps[i] in out[steps[i - 1]]


@given(
    pairs=edges_strategy,
    delta_mod=st.integers(2, 5),
)
@SLOW
def test_components_delta_matches_full_recompute(spark, pairs, delta_mod):
    """Split random edges old/delta; incremental re-label from the
    converged old labeling must equal union-find over ALL edges."""
    from graphjet_spark.plans.components import connected_components_delta

    pairs = [(s, d) for s, d in pairs if s != d]
    if not pairs:
        return
    old = [(s, d) for s, d in pairs if (s + d) % delta_mod != 0]
    delta = [(s, d) for s, d in pairs if (s + d) % delta_mod == 0]
    if not old or not delta:
        return
    old_lab = connected_components_star(spark, _df(spark, old))
    got = {
        r["id"]: r["component"]
        for r in connected_components_delta(
            spark, old_lab, _df(spark, delta)
        ).collect()
    }

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in pairs:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    want = {v: find(v) for v in {x for p in pairs for x in p}}
    # canonicalize: min vertex id per union-find root
    roots = {}
    for v, r in want.items():
        roots[r] = min(roots.get(r, v), v)
    want = {v: roots[r] for v, r in want.items()}
    assert got == want


@given(pairs=edges_strategy)
@SLOW
def test_grouped_ppr_matches_per_seed_pagerank(spark, pairs):
    """Each seed's rows from the grouped batch must equal an
    independent personalized pagerank(teleport={seed: 1.0}) run."""
    from graphjet_spark.plans.pagerank import pagerank, ppr_grouped

    pairs = [(s, d) for s, d in pairs if s != d]
    if not pairs:
        return
    seeds = sorted({s for s, _ in pairs})[:3]
    edges = _df(spark, pairs)
    grouped = ppr_grouped(
        spark, edges, seeds, fixed_iters=4, k=1000
    ).collect()
    by_seed = {}
    for r in grouped:
        by_seed.setdefault(r["seed"], {})[r["id"]] = r["ppr"]
    for s in seeds:
        # unrounded dense values: avoids HALF_UP-vs-banker's boundary
        # artifacts — the sparse side is Spark-rounded to 9, so compare
        # with 2e-9 slack and require presence only above that slack
        dense = {
            r["id"]: r["pagerank"]
            for r in pagerank(
                spark, edges, fixed_iters=4, teleport={s: 1.0}
            ).collect()
        }
        got = by_seed.get(s, {})
        for i, p in got.items():
            assert abs(p - dense.get(i, 0.0)) < 2e-9
        for i, p in dense.items():
            if p > 2e-9:
                assert i in got


@given(pairs=edges_strategy)
@SLOW
def test_anf_sketches_match_literal_mirror(spark, pairs):
    """Exact-equality mirror of the ANF superstep algebra: Python
    md5 masks + set-union supersteps must reproduce the engine's
    integer sketch histogram bit-for-bit."""
    import hashlib
    from collections import defaultdict

    from graphjet_spark.plans.anf import anf_sketch_histogram

    pairs = list(set(pairs))
    R, T = 8, 3
    ids = sorted({x for p in pairs for x in p})

    def mask(v, j):
        h = int(hashlib.md5(f"{v}:{j}".encode()).hexdigest()[:15], 16)
        if h == 0:
            tz = 60
        else:
            tz = min(60, (h & -h).bit_length() - 1)
        return 1 << tz

    state = {v: [mask(v, j) for j in range(R)] for v in ids}
    out_adj = defaultdict(set)
    for s, d in pairs:
        out_adj[s].add(d)

    def lowest_zero(m):
        b = 0
        while m & (1 << b):
            b += 1
        return b

    def hist(t, st):
        c = Counter(
            sum(lowest_zero(m) for m in masks) for masks in st.values()
        )
        return {(t, s): n for s, n in c.items()}

    want = hist(0, state)
    for t in range(1, T + 1):
        new = {}
        for v in ids:
            ms = list(state[v])
            for w in out_adj[v]:
                for j in range(R):
                    ms[j] |= state[w][j]
            new[v] = ms
        state = new
        want.update(hist(t, state))

    got = {
        (r["t"], r["sketch_sum"]): r["cnt"]
        for r in anf_sketch_histogram(
            spark, _df(spark, pairs), iters=T
        ).collect()
    }
    assert got == want


def test_anf_estimate_tracks_true_neighborhood_function(spark):
    """On a 40-clique the true N(1) is n^2; the folded FM estimate
    must land within the standard ~1/sqrt(r) relative error band."""
    from graphjet_spark.plans.anf import (
        anf_sketch_histogram,
        neighborhood_function,
    )

    n = 40
    pairs = [(a, b) for a in range(1, n + 1) for b in range(1, n + 1) if a != b]
    hist = anf_sketch_histogram(spark, _df(spark, pairs), iters=1)
    nf = {
        r["t"]: r["nf_est"]
        for r in neighborhood_function(hist).collect()
    }
    assert abs(nf[1] - n * n) / (n * n) < 0.5


@given(pairs=edges_strategy)
@SLOW
def test_scc_matches_tarjan(spark, pairs):
    """FW-BW-coloring SCC equals a literal iterative Tarjan mirror
    (labels = min vertex id per component)."""
    from graphjet_spark.plans.scc import strongly_connected_components

    ids = sorted({x for p in pairs for x in p})
    adj = {v: [] for v in ids}
    for s, d in pairs:
        if s != d:
            adj[s].append(d)

    # iterative Tarjan
    index = {}
    low = {}
    on_stack = set()
    stack = []
    sccs = []
    counter = [0]

    def strongconnect(root):
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                sccs.append(comp)
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])

    for v in ids:
        if v not in index:
            strongconnect(v)
    want = {}
    for comp in sccs:
        m = min(comp)
        for v in comp:
            want[v] = m

    got = {
        r["id"]: r["scc"]
        for r in strongly_connected_components(
            spark, _df(spark, pairs)
        ).collect()
    }
    assert got == want


def test_scc_cycle_chain(spark):
    """Chain of 3-cycles linked by DAG edges: every cycle is its own
    SCC — exercises multiple coloring rounds after trim stalls."""
    from graphjet_spark.plans.scc import strongly_connected_components

    pairs = []
    for c in range(4):
        b = 10 * c
        pairs += [(b + 1, b + 2), (b + 2, b + 3), (b + 3, b + 1)]
        if c:
            pairs.append((b - 10 + 1, b + 1))
    got = {
        r["id"]: r["scc"]
        for r in strongly_connected_components(
            spark, _df(spark, pairs)
        ).collect()
    }
    want = {10 * c + i: 10 * c + 1 for c in range(4) for i in (1, 2, 3)}
    assert got == want


def test_scc_round_cap_keeps_every_vertex(spark):
    """Chain of eight 2-cycles 0<->1 -> 2<->3 -> ...: each outer round
    captures one SCC, so a 5-round budget leaves three unresolved.
    Every vertex still gets a row; unresolved ones keep their own id."""
    from graphjet_spark.plans.scc import strongly_connected_components

    pairs = []
    for c in range(8):
        pairs += [(2 * c, 2 * c + 1), (2 * c + 1, 2 * c)]
        if c:
            pairs.append((2 * c - 2, 2 * c))
    got = {
        r["id"]: r["scc"]
        for r in strongly_connected_components(
            spark, _df(spark, pairs), max_rounds=5
        ).collect()
    }
    assert len(got) == 16
    resolved = {v: v - v % 2 for v in range(10)}
    unresolved = {v: v for v in range(10, 16)}
    assert got == {**resolved, **unresolved}


@given(pairs=edges_strategy)
@SLOW
def test_butterfly_count_matches_bruteforce(spark, pairs):
    """Wedge + butterfly census equals brute-force enumeration over
    the distinct bipartite edge set (cap unhit at this size)."""
    from graphjet_spark.operators.projection import butterfly_count

    edges = sorted(set(pairs))
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    want_w = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    rights = sorted({d for _, d in edges})
    want_b = 0
    for i, a in enumerate(rights):
        for b in rights[i + 1 :]:
            w = sum(1 for v in adj.values() if a in v and b in v)
            want_b += w * (w - 1) // 2
    df = spark.createDataFrame(
        [(s, d, i) for i, (s, d) in enumerate(edges)],
        "src bigint, dst bigint, seq bigint",
    )
    row = butterfly_count(df).first()
    assert (row["wedges"], row["butterflies"]) == (want_w, want_b)


@given(pairs=edges_strategy)
@SLOW
def test_betweenness_matches_brandes_mirror(spark, pairs):
    """Sampled-source depth-truncated betweenness equals a literal
    per-source Brandes mirror (Brandes JMS'01, Alg. 1) on random
    directed graphs."""
    from collections import defaultdict

    from graphjet_spark.plans.betweenness import betweenness_sampled

    depth = 4
    edges = sorted({(s, d) for s, d in pairs if s != d})
    if not edges:
        return
    adj = defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
    verts = {s for s, _ in edges} | {d for _, d in edges}
    sources = [s for s in (1, 2, 3) if s in verts]
    if not sources:
        return
    bc, reached = defaultdict(float), set()
    for s in sources:
        dist, sigma, levels = {s: 0}, {s: 1.0}, [[s]]
        for lvl in range(1, depth + 1):
            nxt = defaultdict(float)
            for v in levels[-1]:
                for w in adj[v]:
                    if w not in dist:
                        nxt[w] += sigma[v]
            if not nxt:
                break
            for w, sg in nxt.items():
                dist[w], sigma[w] = lvl, sg
            levels.append(sorted(nxt))
        reached |= dist.keys()
        delta = defaultdict(float)
        for lvl in range(len(levels) - 2, -1, -1):
            for v in levels[lvl]:
                for w in adj[v]:
                    if dist.get(w) == lvl + 1:
                        delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
        for v, dl in delta.items():
            if v != s:
                bc[v] += dl
    want = {v: round(bc.get(v, 0.0), 6) for v in reached}
    got = {
        r["id"]: r["bc"]
        for r in betweenness_sampled(
            spark, _df(spark, pairs), sources, max_depth=depth
        ).collect()
    }
    assert got == want


@given(pairs=edges_strategy)
@SLOW
def test_coreness_matches_peeling_on_random_graphs(spark, pairs):
    from graphjet_spark.plans.kcore import coreness

    pairs = [(s, d) for s, d in pairs if s != d]
    if not pairs:
        return
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive, k, want = set(adj), 1, {}
    while alive:
        drop = {v for v in alive if len(adj[v] & alive) < k}
        if not drop:
            k += 1
            continue
        for v in drop:
            want[v] = k - 1
        alive -= drop
    got = {
        r["id"]: r["coreness"]
        for r in coreness(spark, _df(spark, pairs), fixed_iters=20).collect()
    }
    assert got == want


@given(pairs=edges_strategy)
@SLOW
def test_wl_colors_refine_structure(spark, pairs):
    """WL invariants on random graphs: (1) same color => same degree
    after round >= 1; (2) the partition only ever refines (round-2
    classes are subsets of round-1 classes); (3) engine == literal
    mirror (the micro-graph mirror generalized)."""
    from graphjet_spark.plans.wl import wl_colors
    from tests.test_micro_graphs import py_wl_colors

    if not pairs:
        return
    adj: dict[int, set[int]] = {}
    for s, d in pairs:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    c1 = {
        r["id"]: r["wl_color"]
        for r in wl_colors(spark, _df(spark, pairs), rounds=1).collect()
    }
    c2 = {
        r["id"]: r["wl_color"]
        for r in wl_colors(spark, _df(spark, pairs), rounds=2).collect()
    }
    assert c2 == py_wl_colors(pairs, 2) and c1 == py_wl_colors(pairs, 1)
    by_c1: dict = {}
    for v, c in c1.items():
        by_c1.setdefault(c, set()).add(v)
    for vs in by_c1.values():
        assert len({len(adj.get(v, ())) for v in vs}) == 1  # same degree
    # refinement: vertices sharing a round-2 color share round-1 color
    by_c2: dict = {}
    for v, c in c2.items():
        by_c2.setdefault(c, set()).add(v)
    for vs in by_c2.values():
        assert len({c1[v] for v in vs}) == 1
