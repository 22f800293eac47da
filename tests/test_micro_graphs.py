"""Golden micro-graph tests for the north-rule algorithms (FIXTURES.md §3.2).

Oracles are small pure-Python/numpy implementations — no Spark — mirroring
GraphJet's golden-output test style (reference: graphjet-core/src/test/
java/com/twitter/graphjet/algorithms/BipartiteGraphTestHelper.java:75-95,
tiny hand-built fixtures asserted exactly).
"""

from __future__ import annotations

import numpy as np
import pytest

from graphjet_spark.plans.components import connected_components
from graphjet_spark.plans.labelprop import label_propagation
from graphjet_spark.plans.pagerank import pagerank
from graphjet_spark.plans.triangles import per_vertex_triangles, triangle_count

from .conftest import edges_df


def numpy_pagerank(pairs, damping=0.85, tol=1e-10, max_iter=500):
    nodes = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _ in set(pairs):
        out[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        new = np.full(n, (1 - damping) / n)
        dangling = r[out == 0].sum()
        new += damping * dangling / n
        for s, d in set(pairs):
            new[idx[d]] += damping * r[idx[s]] / out[idx[s]]
        if np.abs(new - r).max() < tol:
            r = new
            break
        r = new
    return {v: r[idx[v]] for v in nodes}


PR_LINE = [(1, 2), (2, 3), (3, 4)]  # 4 dangling
PR_TRAP = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 5), (5, 6), (6, 5)]
CC_ISLANDS = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 20)]
LP_CLIQUES = (
    [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    + [(a, b) for a in (11, 12, 13, 14) for b in (11, 12, 13, 14) if a < b]
    + [(4, 11)]
)
TRI_K4_TAIL = (
    [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    + [(4, 3), (1, 2)]  # reverse orientation + duplicate
    + [(4, 5), (5, 6)]  # pendant tail
)


@pytest.mark.parametrize("pairs", [PR_LINE, PR_TRAP], ids=["line", "trap"])
def test_pagerank_micro(spark, pairs):
    got = {
        r["id"]: r["pagerank"]
        for r in pagerank(spark, edges_df(spark, pairs), tol=1e-8).collect()
    }
    want = numpy_pagerank(pairs)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6)


def numpy_personalized_pagerank(pairs, seeds, damping=0.85, iters=50):
    nodes = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _ in set(pairs):
        out[idx[s]] += 1
    total = sum(seeds.values())
    p = np.zeros(n)
    for v, w in seeds.items():
        p[idx[v]] = w / total
    r = p.copy()
    for _ in range(iters):
        dangling = r[out == 0].sum()
        new = p * ((1 - damping) + damping * dangling)
        for s, d in set(pairs):
            new[idx[d]] += damping * r[idx[s]] / out[idx[s]]
        r = new
    return {v: r[idx[v]] for v in nodes}


def test_personalized_pagerank_micro(spark):
    pairs = PR_TRAP
    seeds = {1: 1.0, 5: 3.0}
    got = {
        r["id"]: r["pagerank"]
        for r in pagerank(
            spark, edges_df(spark, pairs), fixed_iters=50, teleport=seeds
        ).collect()
    }
    want = numpy_personalized_pagerank(pairs, seeds, iters=50)
    assert got.keys() == want.keys()
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9)
    # teleport bias: seed-adjacent mass beats the uniform variant's
    uni = {
        r["id"]: r["pagerank"]
        for r in pagerank(spark, edges_df(spark, pairs), fixed_iters=50).collect()
    }
    assert got[5] > uni[5]


def test_pagerank_mass_conserved(spark):
    got = pagerank(spark, edges_df(spark, PR_TRAP), tol=1e-8).collect()
    assert sum(r["pagerank"] for r in got) == pytest.approx(1.0, abs=1e-9)


def test_connected_components_islands(spark):
    got = {
        r["id"]: r["component"]
        for r in connected_components(spark, edges_df(spark, CC_ISLANDS)).collect()
    }
    # self-loop (20,20) is dropped -> 20 not a vertex of the sym graph
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_label_propagation_cliques(spark):
    got = {
        r["id"]: r["label"]
        for r in label_propagation(spark, edges_df(spark, LP_CLIQUES), iters=5).collect()
    }
    # each 4-clique converges to its min label; bridge does not flip cliques
    assert {got[v] for v in (1, 2, 3)} == {1}
    assert {got[v] for v in (12, 13, 14)} == {11}


def test_triangle_count_k4_tail(spark):
    got = triangle_count(spark, edges_df(spark, TRI_K4_TAIL)).first()["triangles"]
    assert got == 4  # K4 has 4 triangles; tail adds none; dups/orientation ignored


def test_per_vertex_triangles(spark):
    got = {
        r["id"]: r["triangles"]
        for r in per_vertex_triangles(spark, edges_df(spark, TRI_K4_TAIL)).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_pagerank_hub_star_with_salt(spark):
    # hub_star skew fixture: explicit two-phase agg must equal plain path
    pairs = [(1, d) for d in range(100, 400)] + [(d, 1) for d in range(100, 150)]
    e = edges_df(spark, pairs)
    plain = {r["id"]: r["pagerank"] for r in pagerank(spark, e, tol=1e-8).collect()}
    salted = {
        r["id"]: r["pagerank"]
        for r in pagerank(spark, e, tol=1e-8, skew_salt=8).collect()
    }
    want = numpy_pagerank(pairs)
    assert plain.keys() == salted.keys() == want.keys()
    for v in want:
        assert plain[v] == pytest.approx(want[v], abs=1e-6)
        assert salted[v] == pytest.approx(plain[v], abs=1e-9)


def test_k_core_peeling_mirror(spark):
    """k-core vs a literal Python peeling mirror on a graph with a
    clique (3-core), a cycle (2-core), and pendant chains (peeled)."""
    from graphjet_spark.plans.kcore import k_core

    pairs = (
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]  # K4: 3-core
        + [(10, 11), (11, 12), (12, 13), (13, 10)]        # C4: 2-core
        + [(4, 20), (20, 21), (21, 22)]                   # pendant chain
    )
    df = spark.createDataFrame(pairs, "src bigint, dst bigint")

    def mirror(k):
        adj = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        alive = set(adj)
        while True:
            drop = {v for v in alive if len(adj[v] & alive) < k}
            if not drop:
                return alive
            alive -= drop

    for k in (2, 3, 4):
        got = {r["id"] for r in k_core(spark, df, k).collect()}
        assert got == mirror(k), k
    # fixed-iteration mode converges to the same cores here
    assert {r["id"] for r in k_core(spark, df, 3, fixed_iters=6).collect()} == mirror(3)


def test_local_clustering_mirror(spark):
    """LCC vs a literal Python mirror on K4 + pendant tail."""
    from graphjet_spark.plans.graphstats import local_clustering

    adj: dict[int, set[int]] = {}
    for a, b in TRI_K4_TAIL:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def mirror(v):
        nb = adj[v]
        d = len(nb)
        if d < 2:
            return 0.0
        t = sum(len(adj[u] & nb) for u in nb) // 2
        return 2.0 * t / (d * (d - 1))

    got = {
        r["id"]: (r["deg"], r["lcc"])
        for r in local_clustering(spark, edges_df(spark, TRI_K4_TAIL)).collect()
    }
    assert got.keys() == adj.keys()
    for v in adj:
        assert got[v][0] == len(adj[v])
        assert got[v][1] == pytest.approx(mirror(v), abs=1e-6)


def test_reciprocity_mirror(spark):
    from graphjet_spark.plans.graphstats import reciprocity

    pairs = [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3), (4, 4), (1, 2)]
    # distinct non-loop: (1,2),(2,1),(2,3),(3,4),(4,3) -> 5; mutual: 4
    row = reciprocity(edges_df(spark, pairs)).first()
    assert row["directed_edges"] == 5
    assert row["mutual_edges"] == 4
    assert row["reciprocity"] == pytest.approx(4 / 5, abs=1e-6)


def _md5i(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def py_luby(pairs, colors, rounds, prio):
    """Literal mirror of plans/mis.py: ``colors`` times, ``rounds`` Luby
    rounds over the still-uncolored vertices with priority
    ``prio(v, c, t)`` (nobody wins a tie).  Returns ``(color, und,
    steps)``: each vertex's color (-1 = uncolored), the last color's
    undecided set, and the supersteps the engine runs: it stops a color
    after the first round that leaves no vertex undecided; the rounds it
    skips would change nothing."""
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    color = {v: -1 for v in adj}
    und: set[int] = set()
    steps = 0
    for c in range(colors):
        und = {v for v in adj if color[v] == -1}
        if not und:
            break
        for t in range(1, rounds + 1):
            steps += 1
            wins = {
                v for v in und if all(prio(v, c, t) > prio(u, c, t) for u in adj[v] & und)
            }
            for v in wins:
                color[v] = c
            und = und - wins - {u for w in wins for u in adj[w]}
            if not und:
                break
    return color, und, steps


def py_luby_mis(pairs, rounds):
    """``({v: state}, steps)`` of plans/mis.py::luby_mis: 1 in the MIS,
    0 excluded, -1 undecided."""
    color, und, steps = py_luby(pairs, 1, rounds, lambda v, _c, t: _md5i(f"mis:{v}:{t}"))
    return {v: 1 if c == 0 else -1 if v in und else 0 for v, c in color.items()}, steps


def py_greedy_coloring(pairs, colors, rounds):
    """``({v: color}, steps)`` of plans/mis.py::greedy_coloring."""
    color, _, steps = py_luby(pairs, colors, rounds, lambda v, c, t: _md5i(f"clr:{v}:{c}:{t}"))
    return color, steps


def test_luby_mis_mirror(spark):
    """Luby MIS vs a literal Python mirror (same md5 priorities,
    nobody-wins ties), plus the MIS properties themselves:
    independence and maximality over the decided set."""
    from graphjet_spark.plans.mis import luby_mis

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1), (3, 6), (7, 8), (9, 9)]
    want, _ = py_luby_mis(pairs, 8)
    got = {
        r["id"]: r["state"]
        for r in luby_mis(spark, edges_df(spark, pairs), fixed_iters=8).collect()
    }
    assert got == want
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    # independence: no two MIS members adjacent
    chosen = {v for v, s in got.items() if s == 1}
    assert not any(u in chosen for v in chosen for u in adj[v])
    # maximality over decided vertices: every excluded vertex has an
    # MIS neighbor
    for v, s in got.items():
        if s == 0:
            assert adj[v] & chosen


def test_greedy_coloring_mirror(spark):
    """Iterated-MIS coloring vs a literal mirror, plus the coloring
    property itself: no edge joins two vertices of the same color >= 0."""
    from graphjet_spark.plans.mis import greedy_coloring

    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (7, 8)]
    want, _ = py_greedy_coloring(pairs, 3, 6)
    got = {
        r["id"]: r["color"]
        for r in greedy_coloring(
            spark, edges_df(spark, pairs), colors=3, mis_iters=6
        ).collect()
    }
    assert got == want
    for a, b in pairs:
        if a != b and got[a] >= 0:
            assert got[a] != got[b]


def test_edge_churn_monthly_mirror(spark):
    """Month-over-month edge churn vs hand-computed deltas, including
    a calendar gap month (dropped must be NULL, not lag-to-last)."""
    from graphjet_spark.operators.projection import edge_churn_monthly

    rows = [
        # Jan: edges (1,2), (1,3)
        (1, 2, "2024-01-05"), (1, 3, "2024-01-20"), (1, 2, "2024-01-25"),
        # Feb: (1,2) retained, (2,3) added
        (1, 2, "2024-02-10"), (2, 3, "2024-02-11"),
        # April (March empty): (2,3) present but prev month has nothing
        (2, 3, "2024-04-01"), (4, 5, "2024-04-02"),
    ]
    df = spark.createDataFrame(
        [(s, d, ts) for s, d, ts in rows], "src bigint, dst bigint, ts string"
    ).selectExpr("src", "dst", "CAST(ts AS timestamp) AS ts")

    got = {
        r["month_ord"]: (
            r["n_edges"], r["retained"], r["added"], r["dropped"],
            r["churn_rate"],
        )
        for r in edge_churn_monthly(df).collect()
    }
    jan, feb, apr = 2024 * 12 + 1, 2024 * 12 + 2, 2024 * 12 + 4
    assert got[jan] == (2, 0, 2, None, 1.0)
    assert got[feb] == (2, 1, 1, 1, 0.5)   # (1,3) dropped, (2,3) added
    assert got[apr] == (2, 0, 2, None, 1.0)  # gap month: no baseline


def test_effective_diameter_mirror(spark):
    """ANF sketches + q-effective diameter vs a literal Python mirror
    (md5 FM masks, bit_or propagation, interpolated hop-plot readout)
    on a directed chain with a shortcut."""
    import hashlib

    from graphjet_spark.plans.anf import (
        ANF_PHI,
        anf_sketch_histogram,
        effective_diameter,
    )

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 4), (7, 1)]
    iters, r, q = 5, 8, 0.9

    def mask(vid: int, j: int) -> int:
        h = int(hashlib.md5(f"{vid}:{j}".encode()).hexdigest()[:15], 16)
        tz = 60 if h == 0 else min(60, (h & -h).bit_length() - 1)
        return 1 << tz

    nodes = sorted({v for e in pairs for v in e})
    out: dict[int, list[int]] = {}
    for s, d in pairs:
        out.setdefault(s, []).append(d)
    st = {v: [mask(v, j) for j in range(r)] for v in nodes}

    def lowest_zero(m: int) -> int:
        return (m ^ (m + 1)).bit_count() - 1

    nf = []
    for _ in range(iters + 1):
        nf.append(
            sum(
                2.0 ** (sum(lowest_zero(m) for m in st[v]) / r) / ANF_PHI
                for v in nodes
            )
        )
        nxt = {}
        for v in nodes:
            ms = list(st[v])
            for u in out.get(v, []):
                for j in range(r):
                    ms[j] |= st[u][j]
            nxt[v] = ms
        st = nxt
    target = q * max(nf)
    t90 = next(t for t, x in enumerate(nf) if x >= target)
    if t90 == 0:
        want = 0.0
    else:
        want = (t90 - 1) + (target - nf[t90 - 1]) / (nf[t90] - nf[t90 - 1])

    hist = anf_sketch_histogram(
        spark, edges_df(spark, pairs), iters=iters, r=r
    )
    row = effective_diameter(hist, r=r, q=q).first()
    assert row["t90"] == t90
    assert row["eff_diameter"] == pytest.approx(want, abs=1e-6)


def test_powerlaw_alpha_mirror(spark):
    """CSN'09 degree-exponent MLE vs a literal mirror (star + chain:
    mixed degrees, dmin filter excludes the leaves)."""
    import math

    from graphjet_spark.plans.graphstats import powerlaw_alpha

    pairs = [(1, k) for k in range(2, 8)] + [(2, 3), (3, 4), (8, 9)]
    dmin = 2
    deg: dict[int, int] = {}
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    tail = [d for d in deg.values() if d >= dmin]
    alpha = 1.0 + len(tail) / sum(math.log(d / (dmin - 0.5)) for d in tail)

    row = powerlaw_alpha(edges_df(spark, pairs), dmin=dmin).first()
    assert row["n_tail"] == len(tail)
    assert row["dmin"] == dmin
    assert row["alpha"] == pytest.approx(alpha, abs=1e-6)


def test_degree_assortativity_mirror(spark):
    from graphjet_spark.plans.graphstats import degree_assortativity

    pairs = TRI_K4_TAIL
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    xs, ys = [], []
    for a in adj:
        for b in adj[a]:
            xs.append(len(adj[a]))
            ys.append(len(adj[b]))
    want = np.corrcoef(xs, ys)[0, 1]
    row = degree_assortativity(edges_df(spark, pairs)).first()
    assert row["n_ends"] == len(xs)
    assert row["assortativity"] == pytest.approx(want, abs=1e-6)


def test_sssp_bellman_mirror(spark):
    """Weighted SSSP vs a literal Bellman-Ford mirror with the shared
    derived weight 1 + dst % 7."""
    from graphjet_spark.plans.sssp import sssp

    pairs = [(1, 2), (2, 3), (3, 9), (1, 8), (8, 9), (9, 4), (5, 6)]
    w = {(s, d): 1 + d % 7 for s, d in pairs}
    dist = {1: 0}
    for _ in range(10):
        for (s, d), wt in w.items():
            if s in dist and dist[s] + wt < dist.get(d, 1 << 60):
                dist[d] = dist[s] + wt
    got = {
        r["id"]: r["dist"]
        for r in sssp(spark, edges_df(spark, pairs), 1, fixed_iters=8).collect()
    }
    assert got == dist
    # convergence mode agrees
    got_conv = {
        r["id"]: r["dist"] for r in sssp(spark, edges_df(spark, pairs), 1).collect()
    }
    assert got_conv == dist


def test_hits_mirror(spark):
    """HITS vs a literal numpy mirror (deferred L1 normalization, same
    as the engine and the unrolled oracle)."""
    from graphjet_spark.plans.hits import hits

    pairs = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 2), (2, 4)]
    nodes = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(nodes)}
    E = set(pairs)
    h = np.ones(len(nodes))
    a = np.zeros(len(nodes))
    for _ in range(8):
        a = np.zeros(len(nodes))
        for s, d in E:
            a[idx[d]] += h[idx[s]]
        h = np.zeros(len(nodes))
        for s, d in E:
            h[idx[s]] += a[idx[d]]
    h /= h.sum()
    a /= a.sum()
    got = {
        r["id"]: (r["hub"], r["authority"])
        for r in hits(spark, edges_df(spark, pairs), fixed_iters=8).collect()
    }
    assert got.keys() == set(nodes)
    for v in nodes:
        assert got[v][0] == pytest.approx(h[idx[v]], abs=1e-12)
        assert got[v][1] == pytest.approx(a[idx[v]], abs=1e-12)


def test_multi_source_bfs_and_harmonic(spark):
    """Multi-source BFS equals per-source single BFS; harmonic
    centrality vs a literal mirror."""
    from graphjet_spark.plans.bfs import (
        bfs_distances,
        bfs_distances_multi,
        harmonic_centrality,
    )

    pairs = [(1, 2), (2, 3), (3, 4), (1, 5), (5, 4), (9, 1), (4, 9), (7, 8)]
    df = edges_df(spark, pairs)
    multi = {
        (r["source"], r["id"]): r["dist"]
        for r in bfs_distances_multi(spark, df, [1, 7], fixed_iters=6).collect()
    }
    for s in (1, 7):
        single = {
            r["id"]: r["dist"]
            for r in bfs_distances(spark, df, s, fixed_iters=6).collect()
        }
        assert {v: d for (src, v), d in multi.items() if src == s} == single

    got = {
        r["source"]: (r["reached"], r["harmonic"])
        for r in harmonic_centrality(spark, df, [1, 7], fixed_iters=6).collect()
    }
    for s in (1, 7):
        dists = {v: d for (src, v), d in multi.items() if src == s and d > 0}
        assert got[s][0] == len(dists)
        assert got[s][1] == pytest.approx(
            sum(1.0 / d for d in dists.values()), abs=1e-6
        )


def test_multi_source_bfs_literal_mirror(spark):
    """Multi-source BFS vs a literal level-by-level BFS per source, with
    overlapping reach, a source inside another's reach and a depth cap
    that cuts the longest path."""
    from graphjet_spark.plans.bfs import bfs_distances_multi

    pairs = [(1, 2), (2, 3), (3, 4), (1, 5), (5, 4), (9, 1), (4, 9), (7, 8)]
    adj: dict[int, list[int]] = {}
    for s, d in pairs:
        adj.setdefault(s, []).append(d)

    def bfs(s, depth):
        dist, frontier = {s: 0}, [s]
        for hop in range(1, depth + 1):
            frontier = [v for u in frontier for v in adj.get(u, ()) if v not in dist]
            dist.update((v, hop) for v in frontier)
        return dist

    sources = [1, 4, 7]
    for depth in (2, 6):
        rows = bfs_distances_multi(
            spark, edges_df(spark, pairs), sources, fixed_iters=depth
        ).collect()
        got = {(r["source"], r["id"]): r["dist"] for r in rows}
        assert len(rows) == len(got)
        assert got == {(s, v): d for s in sources for v, d in bfs(s, depth).items()}


def test_traversal_source_outside_the_edges(spark):
    """A source that is no edge endpoint is at distance 0 from itself
    and reaches nothing, in every traversal entry point; no source at
    all is a clean error."""
    from graphjet_spark.plans.bfs import bfs_distances, bfs_distances_multi
    from graphjet_spark.plans.sssp import sssp

    df = edges_df(spark, [(1, 2), (2, 3)])
    assert [tuple(r) for r in bfs_distances(spark, df, 42).collect()] == [(42, 0)]
    assert [tuple(r) for r in sssp(spark, df, 42).collect()] == [(42, 0)]
    multi = bfs_distances_multi(spark, df, [42, 2], fixed_iters=3).collect()
    assert sorted(tuple(r) for r in multi) == [(2, 2, 0), (2, 3, 1), (42, 42, 0)]
    with pytest.raises(ValueError):
        bfs_distances_multi(spark, df, [])


def test_landmark_labels_and_estimates(spark):
    """Landmark distance labels vs a literal BFS mirror, and the
    distance-oracle estimate: exact when a shortest path crosses a
    landmark, an upper bound otherwise, absent when no landmark links
    the pair."""
    from graphjet_spark.plans.bfs import (
        landmark_distance_estimates,
        landmark_labels,
    )

    # 1->2->3->4->5 chain, a 1->5 shortcut, and an island 8->9.
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 5), (8, 9)]
    df = edges_df(spark, pairs)
    lms = [3, 5]

    def bfs(adj, s):
        dist, frontier = {s: 0}, [s]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        nxt.append(v)
            frontier = nxt
        return dist

    fwd_adj, rev_adj = {}, {}
    for s, d in pairs:
        fwd_adj.setdefault(s, []).append(d)
        rev_adj.setdefault(d, []).append(s)
    nodes = {v for e in pairs for v in e}
    want = {}
    for lm in lms:
        f, b = bfs(fwd_adj, lm), bfs(rev_adj, lm)
        for v in nodes:
            if v in f or v in b:
                want[(lm, v)] = (f.get(v, -1), b.get(v, -1))
    got = {
        (r["landmark"], r["id"]): (r["d_from"], r["d_to"])
        for r in landmark_labels(spark, df, lms, fixed_iters=6).collect()
    }
    assert got == want

    labels = landmark_labels(spark, df, lms, fixed_iters=6)
    qp = spark.createDataFrame(
        [(1, 4), (2, 5), (1, 9), (8, 9)], "u bigint, w bigint"
    )
    est = {
        (r["u"], r["w"]): r["dist_est"]
        for r in landmark_distance_estimates(labels, qp).collect()
    }
    # 1->4 through landmark 3 is exact (d(1,3)=2, d(3,4)=1); 2->5
    # through 3 gives 1+2=3 but through 5 gives d(2,5)=3+0 — min is 3
    # (true dist 3); island pairs never share a landmark.
    assert est == {(1, 4): 3, (2, 5): 3}


def test_adamic_adar_mirror(spark):
    """Degree-capped Adamic-Adar vs a literal Python mirror, including
    the cap excluding a hub center."""
    import math

    from graphjet_spark.operators.linkpred import adamic_adar_pairs

    pairs = (
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]        # small cluster
        + [(9, k) for k in range(20, 30)]               # hub 9 (deg 10)
        + [(20, 21)]
    )
    cap = 4

    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want: dict[tuple[int, int], tuple[int, float]] = {}
    for c, nbrs in adj.items():
        d = len(nbrs)
        if d < 2 or d > cap:
            continue
        for u in nbrs:
            for v in nbrs:
                if u < v:
                    cm, aa = want.get((u, v), (0, 0.0))
                    want[(u, v)] = (cm + 1, aa + 1.0 / math.log(d))
    want = {k: v for k, v in want.items() if v[0] >= 2}

    got = {
        (r["id_a"], r["id_b"]): (r["common"], r["aa"])
        for r in adamic_adar_pairs(
            spark, edges_df(spark, pairs), max_center_degree=cap, min_common=2
        ).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-6)
    # the hub's pairs (20,21)... via center 9 must be absent: 9 exceeds cap
    assert all(not (20 <= a < 30 and 20 <= b < 30) or (a, b) == (20, 21)
               for a, b in got)


def test_link_prediction_family_mirror(spark):
    """Common/Jaccard/resource-allocation/preferential-attachment vs a
    literal mirror; capped intersection term, true endpoint degrees."""
    from graphjet_spark.operators.linkpred import link_prediction_scores

    pairs = (
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]
        + [(9, k) for k in range(20, 30)]
        + [(20, 21)]
    )
    cap = 4

    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    acc: dict[tuple[int, int], tuple[int, float]] = {}
    for c, nbrs in adj.items():
        d = len(nbrs)
        if d < 2 or d > cap:
            continue
        for u in nbrs:
            for v in nbrs:
                if u < v:
                    cm, ra = acc.get((u, v), (0, 0.0))
                    acc[(u, v)] = (cm + 1, ra + 1.0 / d)
    want = {}
    for (u, v), (cm, ra) in acc.items():
        if cm < 2:
            continue
        du, dv = len(adj[u]), len(adj[v])
        want[(u, v)] = (cm, cm / (du + dv - cm), ra, du * dv)

    got = {
        (r["id_a"], r["id_b"]): (
            r["common"], r["jaccard"], r["resource_alloc"], r["pref_attach"]
        )
        for r in link_prediction_scores(
            spark, edges_df(spark, pairs), max_center_degree=cap, min_common=2
        ).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-6)
        assert got[k][2] == pytest.approx(want[k][2], abs=1e-6)
        assert got[k][3] == want[k][3]


def test_closeness_mirror(spark):
    """Sampled-source closeness vs a literal BFS mirror on a graph with
    an unreachable island (the Wasserman–Faust correction case)."""
    from graphjet_spark.plans.bfs import closeness_centrality

    pairs = [(1, 2), (2, 3), (3, 4), (1, 5), (5, 4), (4, 6), (8, 9)]
    adj: dict[int, list[int]] = {}
    for s, d in pairs:
        adj.setdefault(s, []).append(d)
    nodes = {v for e in pairs for v in e}
    n = len(nodes)

    def bfs(s):
        dist, frontier = {s: 0}, [s]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        nxt.append(v)
            frontier = nxt
        del dist[s]
        return dist

    got = {
        r["source"]: (r["reached"], r["closeness"])
        for r in closeness_centrality(
            spark, edges_df(spark, pairs), [1, 8], fixed_iters=8
        ).collect()
    }
    for s in (1, 8):
        d = bfs(s)
        r = len(d)
        expect = (r / sum(d.values())) * (r / (n - 1))
        assert got[s][0] == r
        assert got[s][1] == pytest.approx(expect, abs=1e-9)


def test_katz_mirror(spark):
    """Katz centrality vs a literal numpy mirror (x = 1 + a*A^T x,
    L1-normalized once at the end)."""
    from graphjet_spark.plans.katz import katz

    pairs = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 2), (2, 4), (5, 1)]
    nodes = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(nodes)}
    E = set(pairs)
    a = 0.1
    x = np.ones(len(nodes))
    for _ in range(8):
        g = np.zeros(len(nodes))
        for s, d in E:
            g[idx[d]] += x[idx[s]]
        x = 1.0 + a * g
    x /= x.sum()
    got = {
        r["id"]: r["katz"]
        for r in katz(
            spark, edges_df(spark, pairs), alpha=a, fixed_iters=8
        ).collect()
    }
    assert got.keys() == set(nodes)
    for v in nodes:
        assert got[v] == pytest.approx(x[idx[v]], abs=1e-12)


def test_k_truss_peeling_mirror(spark):
    """k-truss vs a literal Python peeling mirror: K5 (5-truss), a C4
    with a chord (3-truss parts), and pendant edges (peeled)."""
    from graphjet_spark.plans.ktruss import k_truss

    pairs = (
        [(a, b) for a in range(1, 6) for b in range(1, 6) if a < b]  # K5
        + [(10, 11), (11, 12), (12, 13), (13, 10), (10, 12)]  # chorded C4
        + [(5, 20), (20, 21)]  # pendant chain
    )
    df = spark.createDataFrame(pairs, "src bigint, dst bigint")

    def mirror(k):
        surv = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
        while True:
            adj = {}
            for a, b in surv:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
            drop = {
                (a, b)
                for a, b in surv
                if len(adj[a] & adj[b]) < k - 2
            }
            if not drop:
                return surv
            surv -= drop

    for k in (3, 4, 5):
        got = {(r["a"], r["b"]) for r in k_truss(spark, df, k, fixed_iters=8).collect()}
        assert got == mirror(k), k


def test_modularity_mirror(spark):
    """Modularity of a known-good partition vs the closed-form value:
    two 4-cliques joined by one bridge, partitioned by clique."""
    from graphjet_spark.plans.labelprop import modularity

    got = modularity(
        spark,
        edges_df(spark, LP_CLIQUES),
        label_propagation(spark, edges_df(spark, LP_CLIQUES), iters=5),
    ).first()
    # LP converges to the two cliques here (asserted in
    # test_label_propagation_cliques): m = 13 undirected edges,
    # within: 6+1 (bridge endpoint 4's clique) ... compute the mirror:
    adj = {}
    for a, b in LP_CLIQUES:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    comm = {v: (1 if v < 10 else 11) for v in adj}
    S = sum(len(n) for n in adj.values())
    cs = sorted(set(comm.values()))
    q = 0.0
    for c in cs:
        members = {v for v in adj if comm[v] == c}
        s_c = sum(len(adj[v] & members) for v in members)
        d_c = sum(len(adj[v]) for v in members)
        q += s_c / S - (d_c / S) ** 2
    assert got["communities"] == len(cs)
    assert got["modularity"] == pytest.approx(q, abs=1e-6)


def test_hash_walk_corpus_properties(spark):
    """Hash-walk corpus: every consecutive (vertex, next) is a real
    edge, walks stop exactly at sinks, and the corpus is
    partitioning-independent (pure function of the graph)."""
    from graphjet_spark.plans.walks import hash_walk_corpus

    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (5, 6)]  # 6 is a sink
    df = spark.createDataFrame(pairs, "src bigint, dst bigint")
    rows = hash_walk_corpus(spark, df, length=5).collect()
    walks: dict[int, dict[int, int]] = {}
    for r in rows:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    out = {}
    for s, d in pairs:
        out.setdefault(s, set()).add(d)
    assert set(walks) == set(out)  # one walk per vertex with out-edges
    for wid, steps in walks.items():
        assert steps[0] == wid
        ks = sorted(steps)
        assert ks == list(range(len(ks)))  # contiguous steps
        for i in range(1, len(ks)):
            assert steps[i] in out[steps[i - 1]]  # real edges only
        last = steps[max(ks)]
        # walk either used the full budget or stopped at a sink
        assert max(ks) == 5 or last not in out
    # walk 5 must stop at 6 after one step
    assert walks[5] == {0: 5, 1: 6}

    rows2 = hash_walk_corpus(spark, df.repartition(7), length=5).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_node2vec_walks_mirror(spark):
    """Second-order biased hash walks vs a literal Python mirror of
    the node2vec selection rule (exact integer cumulative weights,
    md5-prefix hash), plus partitioning independence."""
    import hashlib

    from graphjet_spark.plans.walks import node2vec_walk_corpus

    pairs = [(1, 2), (1, 3), (2, 1), (2, 3), (2, 4), (3, 4), (4, 1), (5, 6)]
    length, wr, wn, wf = 5, 1, 2, 4

    out: dict[int, list[int]] = {}
    for s, d in pairs:
        out.setdefault(s, []).append(d)
    for v in out:
        out[v].sort()

    def h(walk_id: int, step: int) -> int:
        return int(hashlib.md5(f"{walk_id}:{step}".encode()).hexdigest()[:15], 16)

    want = {}
    for start in out:
        walk = [start]
        # step 1: first-order uniform hash
        nbrs = out[start]
        walk.append(nbrs[h(start, 1) % len(nbrs)])
        for i in range(2, length + 1):
            cur, prev = walk[-1], walk[-2]
            if cur not in out:
                break
            cand = out[cur]
            ws = [
                wr if x == prev else (wn if x in out.get(prev, ()) else wf)
                for x in cand
            ]
            r = h(start, i) % sum(ws)
            cum = 0
            for x, w in zip(cand, ws):
                cum += w
                if r < cum:
                    walk.append(x)
                    break
        for step, v in enumerate(walk):
            want[(start, step)] = v

    df = spark.createDataFrame(pairs, "src bigint, dst bigint")
    got = {
        (r["walk_id"], r["step"]): r["vertex"]
        for r in node2vec_walk_corpus(
            spark, df, length=length, w_return=wr, w_neighbor=wn, w_far=wf
        ).collect()
    }
    assert got == want

    got2 = {
        (r["walk_id"], r["step"]): r["vertex"]
        for r in node2vec_walk_corpus(
            spark, df.repartition(7), length=length,
            w_return=wr, w_neighbor=wn, w_far=wf,
        ).collect()
    }
    assert got2 == got


def test_eigenvector_centrality_mirror(spark):
    """Eigenvector centrality vs a literal numpy power-iteration mirror
    over the symmetrized graph."""
    from graphjet_spark.plans.katz import eigenvector_centrality

    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (6, 6)]
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    nodes = sorted({x for p in und for x in p})
    idx = {v: i for i, v in enumerate(nodes)}
    x = np.ones(len(nodes))
    for _ in range(8):
        nxt = np.zeros(len(nodes))
        for a, b in und:
            nxt[idx[a]] += x[idx[b]]
            nxt[idx[b]] += x[idx[a]]
        x = nxt
    x /= x.sum()
    got = {
        r["id"]: r["eigen"]
        for r in eigenvector_centrality(
            spark, edges_df(spark, pairs), fixed_iters=8
        ).collect()
    }
    assert got.keys() == set(nodes)  # self-loop-only vertex 6 excluded
    for v in nodes:
        assert got[v] == pytest.approx(x[idx[v]], abs=1e-12)


def test_degenerate_graphs_do_not_crash(spark):
    """All-self-loop and empty effective graphs: structural stats return
    NULL/empty instead of dividing by zero (ANSI mode)."""
    from graphjet_spark.plans.graphstats import (
        degree_assortativity,
        reciprocity,
    )
    from graphjet_spark.plans.hits import hits
    from graphjet_spark.plans.katz import eigenvector_centrality

    loops = spark.createDataFrame([(1, 1), (2, 2)], "src bigint, dst bigint")
    row = reciprocity(loops).first()
    assert row["directed_edges"] == 0 and row["reciprocity"] is None
    assert degree_assortativity(loops).first()["assortativity"] is None
    assert eigenvector_centrality(spark, loops, fixed_iters=2).count() == 0
    # single-edge graph: defined outputs, no crash
    one = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    assert degree_assortativity(one).first()["assortativity"] is None
    got = {r["id"]: r["hub"] for r in hits(spark, one, fixed_iters=2).collect()}
    assert got[1] == 1.0 and got[2] == 0.0
    # newer ops on the all-self-loop graph: defined outputs, no crash
    from graphjet_spark.plans.bowtie import bowtie_decomposition
    from graphjet_spark.plans.sweepcut import ppr_sweep_cut
    from graphjet_spark.plans.wl import wl_colors

    wl = {r["id"]: r["class_size"] for r in wl_colors(spark, loops, rounds=2).collect()}
    assert wl == {1: 2, 2: 2}  # both isolated-in-sym: one color class
    bt = {
        r["id"]: r["bowtie_class"]
        for r in bowtie_decomposition(spark, loops, fixed_iters=3).collect()
    }
    assert bt[1] == "CORE" and bt[2] == "DISC"  # pivot=1 by id tiebreak
    empty = spark.createDataFrame([], "src bigint, dst bigint")
    assert bowtie_decomposition(spark, empty, fixed_iters=2).count() == 0
    assert ppr_sweep_cut(spark, loops, {1: 1.0}, fixed_iters=2, k=5).count() == 0


def test_spam_mass_separates_farm_from_trusted(spark):
    """Spam-mass semantics (Gyongyi VLDB'06): a link farm unreachable
    from the trusted seeds keeps ~all its PageRank as spam mass, while
    the trusted cluster's mass is low or negative."""
    # trusted cluster 1-2-3 (cycle), spam farm 10<->11<->12 boosting 13
    pairs = [
        (1, 2), (2, 3), (3, 1),
        (10, 11), (11, 10), (11, 12), (12, 11), (10, 13), (11, 13), (12, 13),
    ]
    edges = edges_df(spark, pairs)
    pr = pagerank(spark, edges, fixed_iters=8)
    tr = pagerank(
        spark, edges, fixed_iters=8, teleport={1: 1.0}
    ).withColumnRenamed("pagerank", "trust")
    import pyspark.sql.functions as F

    sm = {
        r["id"]: r["sm"]
        for r in pr.join(tr, "id")
        .select(
            "id",
            ((F.col("pagerank") - F.col("trust")) / F.col("pagerank")).alias("sm"),
        )
        .collect()
    }
    for farm in (10, 11, 12, 13):
        assert sm[farm] > 0.9
    for good in (1, 2, 3):
        assert sm[good] < 0.0  # trust concentrates on the seed cluster


def test_densest_subgraph_mirror(spark):
    """Greedy peeling vs a literal Python mirror on a graph with a
    planted dense core (K5) plus a long tail: the peel must keep the
    clique and shed the tail, and the reported round/density must
    match the mirror's exact-rational argmax."""
    from fractions import Fraction

    from graphjet_spark.plans.densest import densest_subgraph

    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    tail = [(4, 10), (10, 11), (11, 12), (12, 13), (13, 14), (14, 15)]
    pairs = k5 + tail
    rounds, num, den = 12, 5, 2

    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    cur = set(adj)
    best = None  # (Fraction, round, frozenset)
    for r in range(rounds):
        e = sum(1 for a, b in pairs if a in cur and b in cur)
        deg = {v: sum(1 for u in adj[v] if u in cur) for v in cur}
        v = sum(1 for x in cur if deg[x] > 0)
        live = {x for x in cur if deg[x] > 0}
        if v == 0:
            break
        d = Fraction(e, v)
        if best is None or d > best[0]:
            best = (d, r, frozenset(live))
        cur = {x for x in live if deg[x] * den * v > num * e}

    got = densest_subgraph(
        spark, edges_df(spark, pairs), rounds=rounds, num=num, den=den
    ).collect()
    assert {r["id"] for r in got} == set(best[2])
    assert all(r["peel_round"] == best[1] for r in got)
    dens = round(float(best[0]), 6)
    assert all(abs(r["density"] - dens) < 1e-9 for r in got)
    # the K5 core must survive peeling
    assert set(range(5)) <= {r["id"] for r in got}


def numpy_simrank(pairs, c=0.8, iters=3):
    """Literal dense SimRank (Jeh & Widom KDD'02 eq. 1): full matrix,
    identity base, in-neighbor averaging — the brute-force oracle the
    need-driven plan must match on every computed pair."""
    nodes = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    innb = [[] for _ in range(n)]
    for s, d in set(pairs):
        innb[idx[d]].append(idx[s])
    s_mat = np.eye(n)
    for _ in range(iters):
        new = np.eye(n)
        for a in range(n):
            for b in range(n):
                if a == b or not innb[a] or not innb[b]:
                    continue
                tot = sum(s_mat[i, j] for i in innb[a] for j in innb[b])
                new[a, b] = c * tot / (len(innb[a]) * len(innb[b]))
        s_mat = new
    return {
        (u, v): s_mat[idx[u], idx[v]] for u in nodes for v in nodes if u < v
    }


def test_simrank_micro_mirror(spark):
    """Need-driven SimRank vs the dense literal mirror on a multi-level
    fixture (shared parents, shared grandparents, an isolated sink)."""
    from graphjet_spark.plans.simrank import simrank_pairs

    pairs = [
        (1, 10), (1, 11), (2, 10), (2, 11), (2, 12), (3, 12), (3, 13),
        (10, 20), (11, 20), (11, 21), (12, 21), (12, 22), (13, 22),
        (20, 30), (21, 30), (21, 31), (22, 31),
    ]
    want = numpy_simrank(pairs, c=0.8, iters=3)
    seeds = [30, 31, 20, 21, 22]
    got = {
        (r["node_a"], r["node_b"]): r["simrank"]
        for r in simrank_pairs(
            edges_df(spark, pairs), seeds, c=0.8, iters=3
        ).collect()
    }
    expected = {
        (a, b): round(want[(a, b)], 6)
        for a in seeds
        for b in seeds
        if a < b and want[(a, b)] > 0.0
    }
    assert got.keys() == expected.keys()
    for k, v in expected.items():
        assert got[k] == pytest.approx(v, abs=1e-9), k
    # deeper ancestry raises similarity: 30,31 share parent 21 AND
    # their other parents (20,22) are themselves similar via level 2
    assert got[(30, 31)] > 0.0


def py_wl_colors(pairs, rounds):
    """Literal mirror of plans/wl.py::wl_colors — same md5-prefix
    arithmetic, same commutative sum-hash fold."""
    import hashlib
    from collections import defaultdict

    def md5i(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    adj, nodes = defaultdict(set), set()
    for s, d in pairs:
        nodes.update((s, d))
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    c = {v: len(adj[v]) for v in nodes}
    mod = 2_147_483_647
    for _ in range(rounds):
        hc = {v: md5i(f"wl:{c[v]}") % mod for v in nodes}
        c = {
            v: md5i(
                f"wl:{c[v]}:{sum(hc[u] for u in adj[v])}:{len(adj[v])}"
            )
            for v in nodes
        }
    return c


def test_wl_colors_literal_mirror(spark):
    from graphjet_spark.plans.wl import wl_colors

    # cliques + bridge + islands + a self-loop-only vertex (no sym
    # neighbors: exercises the COALESCE(0,0) fold path)
    pairs = LP_CLIQUES + CC_ISLANDS
    got = {
        r["id"]: (r["wl_color"], r["class_size"])
        for r in wl_colors(spark, edges_df(spark, pairs), rounds=3).collect()
    }
    want_c = py_wl_colors(pairs, 3)
    from collections import Counter

    sizes = Counter(want_c.values())
    want = {v: (c, sizes[c]) for v, c in want_c.items()}
    assert got == want


def test_wl_colors_structural_roles(spark):
    from graphjet_spark.plans.wl import wl_colors

    # path 1-2-3-4-5: mirror-symmetric vertices share a color, the
    # three distance-to-end classes separate after 2 rounds
    path = [(1, 2), (2, 3), (3, 4), (4, 5)]
    col = {
        r["id"]: r["wl_color"]
        for r in wl_colors(spark, edges_df(spark, path), rounds=2).collect()
    }
    assert col[1] == col[5] and col[2] == col[4]
    assert len({col[1], col[2], col[3]}) == 3

    # K4 is vertex-transitive: one color class of size 4
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    rows = wl_colors(spark, edges_df(spark, k4), rounds=3).collect()
    assert len({r["wl_color"] for r in rows}) == 1
    assert all(r["class_size"] == 4 for r in rows)

    # star: hub vs leaves = exactly two classes
    star = [(0, i) for i in range(1, 7)]
    col = {
        r["id"]: r["wl_color"]
        for r in wl_colors(spark, edges_df(spark, star), rounds=3).collect()
    }
    assert len({col[i] for i in range(1, 7)}) == 1
    assert col[0] != col[1]


def py_bowtie(pairs, rounds=20):
    """Literal mirror of plans/bowtie.py::bowtie_decomposition."""
    from collections import defaultdict

    fwd, bwd, nodes = defaultdict(set), defaultdict(set), set()
    for s, d in set(pairs):
        nodes.update((s, d))
        fwd[s].add(d)
        bwd[d].add(s)
    deg = defaultdict(int)
    for s, d in set(pairs):
        deg[s] += 1
        deg[d] += 1
    pivot = max(nodes, key=lambda v: (deg[v], -v))

    def reach(seeds, adj, blocked=frozenset()):
        r, frontier = set(seeds), set(seeds)
        for _ in range(rounds):
            new = {w for v in frontier for w in adj[v]} - r - blocked
            if not new:
                break
            r |= new
            frontier = new
        return r

    fw, bw = reach({pivot}, fwd), reach({pivot}, bwd)
    core = fw & bw
    ins, outs = bw - core, fw - core
    fi = reach(ins, fwd, blocked=core)
    bo = reach(outs, bwd, blocked=core)
    out = {}
    for v in nodes:
        if v in core:
            out[v] = "CORE"
        elif v in ins:
            out[v] = "IN"
        elif v in outs:
            out[v] = "OUT"
        elif v in fi and v in bo:
            out[v] = "TUBE"
        elif v in fi or v in bo:
            out[v] = "TENDRIL"
        else:
            out[v] = "DISC"
    return out


# hand-built Broder bow-tie: 3-cycle core (1,2,3) with extra degree on
# 1 so the max-degree pivot lands in the core; IN chain 9->10->1; OUT
# chain 3->20->21; tube 10->30->20 bypassing the core; in-tendril
# 10->40; out-tendril 50->20; disconnected pair 100->101
BOWTIE_FIXTURE = [
    (1, 2), (2, 3), (3, 1), (9, 1), (21, 1),
    (9, 10), (10, 1),
    (3, 20), (20, 21),
    (10, 30), (30, 20),
    (10, 40),
    (50, 20),
    (100, 101),
]


def test_bowtie_mirror_and_classes(spark):
    from graphjet_spark.plans.bowtie import bowtie_decomposition

    want = py_bowtie(BOWTIE_FIXTURE)
    got = {
        r["id"]: r["bowtie_class"]
        for r in bowtie_decomposition(
            spark, edges_df(spark, BOWTIE_FIXTURE), fixed_iters=12
        ).collect()
    }
    assert got == want
    # the fixture exercises every class; 21->1 pulls 20,21 into the
    # core's backward reach, so OUT collapses into CORE/IN — assert
    # what the mirror says rather than guessed labels
    assert set(want.values()) >= {"CORE", "IN", "TENDRIL", "DISC"}

    # minimal 6-class-capable fixture with a genuine TUBE: core cycle
    # (1,2,3) with pivot-degree boost from IN edges only; 10->30->20
    # bypasses the core from IN to OUT
    tube_fx = [
        (1, 2), (2, 3), (3, 1), (10, 1), (11, 1), (12, 1),
        (3, 20), (10, 30), (30, 20),
    ]
    want2 = py_bowtie(tube_fx)
    assert want2[30] == "TUBE" and want2[20] == "OUT" and want2[1] == "CORE"
    got2 = {
        r["id"]: r["bowtie_class"]
        for r in bowtie_decomposition(
            spark, edges_df(spark, tube_fx), fixed_iters=12
        ).collect()
    }
    assert got2 == want2


def test_bowtie_mirror_on_random_graph(spark):
    import random

    from graphjet_spark.plans.bowtie import bowtie_decomposition

    rng = random.Random(7)
    pairs = [
        (rng.randrange(40), rng.randrange(40)) for _ in range(120)
    ]
    pairs = [(s, d) for s, d in pairs if s != d]
    want = py_bowtie(pairs)
    got = {
        r["id"]: r["bowtie_class"]
        for r in bowtie_decomposition(
            spark, edges_df(spark, pairs), fixed_iters=12
        ).collect()
    }
    assert got == want


def py_ppr_sweep(pairs, seeds, iters, k, d=0.85):
    """Literal mirror of plans/sweepcut.py::ppr_sweep_cut."""
    from collections import defaultdict

    epairs = sorted(set(pairs))
    nodes = sorted({x for p in epairs for x in p})
    out_nbrs = defaultdict(list)
    for s, t in epairs:
        out_nbrs[s].append(t)
    tot = sum(seeds.values())
    p = {v: seeds.get(v, 0.0) / tot for v in nodes}
    sur = sum(p.values())
    if sur < 1 - 1e-12:
        p = {v: x / sur for v, x in p.items()}
    r = dict(p)
    for _ in range(iters):
        dm = sum(r[v] for v in nodes if not out_nbrs[v])
        contrib = defaultdict(float)
        for v in nodes:
            if out_nbrs[v]:
                share = r[v] / len(out_nbrs[v])
                for w in out_nbrs[v]:
                    contrib[w] += share
        r = {v: p[v] * ((1 - d) + d * dm) + d * contrib[v] for v in nodes}

    adj = defaultdict(set)
    for s, t in epairs:
        if s != t:
            adj[s].add(t)
            adj[t].add(s)
    deg = {v: len(adj[v]) for v in nodes if adj[v]}
    scored = sorted(
        (
            (round(r[v] / deg[v], 9), v)
            for v in deg
            if r[v] > 0
        ),
        key=lambda x: (-x[0], x[1]),
    )[:k]
    tvol = sum(deg.values())
    prof, pref, vol, internal = [], set(), 0, 0
    for rk, (score, v) in enumerate(scored, 1):
        internal += sum(1 for u in adj[v] if u in pref)
        pref.add(v)
        vol += deg[v]
        small = min(vol, tvol - vol)
        cond = round((vol - 2 * internal) / small, 9) if small > 0 else None
        prof.append((rk, v, score, cond))
    return prof


def test_ppr_sweep_cut_mirror_finds_clique(spark):
    from graphjet_spark.plans.sweepcut import ppr_sweep_cut

    # two 5-cliques bridged at 5-11; seeding inside clique A must sweep
    # to minimum conductance exactly at the clique-A prefix
    # both orientations: PPR diffusion follows directed edges, so the
    # "community" reading needs the symmetric edge list
    cliq_a = [(a, b) for a in range(1, 6) for b in range(1, 6) if a != b]
    cliq_b = [(a, b) for a in range(11, 16) for b in range(11, 16) if a != b]
    pairs = cliq_a + cliq_b + [(5, 11), (11, 5)]
    seeds = {1: 1.0}
    want = py_ppr_sweep(pairs, seeds, iters=6, k=10)
    got = [
        (r["rank"], r["id"], r["score"], r["conductance"])
        for r in ppr_sweep_cut(
            spark, edges_df(spark, pairs), seeds, fixed_iters=6, k=10
        )
        .orderBy("rank")
        .collect()
    ]
    assert [(a, b) for a, b, _, _ in got] == [
        (a, b) for a, b, _, _ in want
    ]
    for (_, _, gs, gc), (_, _, ws, wc) in zip(got, want):
        assert abs(gs - ws) < 1e-9
        assert (gc is None) == (wc is None)
        if gc is not None:
            assert abs(gc - wc) < 1e-9
    best = min((c, k_) for k_, _, _, c in got if c is not None)
    best_prefix = {row[1] for row in got[: best[1]]}
    assert best_prefix == {1, 2, 3, 4, 5}


def test_coreness_matches_peeling_mirror(spark):
    """Iterated h-index coreness (converged) vs literal min-degree
    peeling, and consistency with the k_core sets."""
    from graphjet_spark.plans.kcore import coreness, k_core

    pairs = (
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]  # K4: 3-core
        + [(10, 11), (11, 12), (12, 13), (13, 10)]        # C4: 2-core
        + [(4, 20), (20, 21), (21, 22)]                   # chain: 1-core
    )
    e = edges_df(spark, pairs)

    def mirror():
        adj: dict[int, set[int]] = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        alive, k, out = set(adj), 1, {}
        while alive:
            drop = {v for v in alive if len(adj[v] & alive) < k}
            if not drop:
                k += 1
                continue
            for v in drop:
                out[v] = k - 1
            alive -= drop
        return out

    want = mirror()
    got = {
        r["id"]: r["coreness"]
        for r in coreness(spark, e, fixed_iters=30).collect()
    }
    assert got == want
    for k in (1, 2, 3):
        in_core = {r["id"] for r in k_core(spark, e, k).collect()}
        assert in_core == {v for v, c in want.items() if c >= k}


def test_directed_triad_census_mirror(spark):
    """Cyclic vs transitive triad counts vs an itertools brute force on
    a digraph with a pure 3-cycle, a feed-forward loop, a fully
    reciprocal triangle (2 cycles + 6 transitive by definition),
    duplicate edges, and a self-loop."""
    from itertools import combinations, permutations

    from graphjet_spark.plans.triangles import directed_triad_census

    pairs = [
        (1, 2), (2, 3), (3, 1),          # pure 3-cycle
        (4, 5), (5, 6), (4, 6),          # feed-forward loop
        (7, 8), (8, 7), (8, 9), (9, 8), (7, 9), (9, 7),  # reciprocal K3
        (1, 2), (4, 5),                  # duplicate edges (ignored)
        (5, 5),                          # self-loop (dropped)
        (2, 6),                          # dangling extra edge
    ]
    E = {(s, d) for s, d in pairs if s != d}
    nodes = sorted({x for e in E for x in e})
    cyc = sum(
        ((a, b) in E and (b, c) in E and (c, a) in E)
        + ((a, c) in E and (c, b) in E and (b, a) in E)
        for a, b, c in combinations(nodes, 3)
    )
    trans = sum(
        (a, b) in E and (b, c) in E and (a, c) in E
        for a, b, c in permutations(nodes, 3)
    )
    got = directed_triad_census(spark, edges_df(spark, pairs)).first()
    assert got["cyclic_triples"] == cyc == 3  # 1 pure + 2 reciprocal
    assert got["transitive_triples"] == trans == 7  # 1 FFL + 6 reciprocal
