"""The co-partitioned superstep runner (plans/superstep.py): every
superstep of PageRank (plain, teleport, weighted), CC, multi-source
BFS, SSSP, LP, Katz, eigenvector, HITS, ANF, coreness, WL, Luby MIS and
greedy coloring plans with a fixed number of shuffles (one; two for
HITS and coreness, three for a Luby round) and no broadcast, runs as
one Spark job, matches the numpy mirrors of tools/mirror_check.py (or
a literal mirror), and leaves the caller's session and Spark's cache
manager as it found them, also when the loop raises — as do the plans
that keep their own loop and take their layouts from the runner."""

from __future__ import annotations

import importlib.util
import pathlib
import re

import numpy as np
import pytest
from graphjet_spark.plans.anf import anf_sketch_histogram
from graphjet_spark.plans.betweenness import betweenness_sampled
from graphjet_spark.plans.bfs import bfs_distances_multi
from graphjet_spark.plans.bowtie import bowtie_decomposition
from graphjet_spark.plans.components import connected_components
from graphjet_spark.plans.densest import densest_subgraph
from graphjet_spark.plans.hits import hits
from graphjet_spark.plans.katz import eigenvector_centrality, katz
from graphjet_spark.plans.kcore import coreness, k_core
from graphjet_spark.plans.ktruss import k_truss
from graphjet_spark.plans.labelprop import label_propagation
from graphjet_spark.plans.mis import greedy_coloring, luby_mis
from graphjet_spark.plans.pagerank import pagerank
from graphjet_spark.plans.sssp import sssp
from graphjet_spark.plans.sweepcut import ppr_sweep_cut
from graphjet_spark.plans.walks import hash_walk_corpus, node2vec_walk_corpus, walk_sample_subgraph
from graphjet_spark.plans.wl import wl_colors
from pyspark.sql import functions as F

from .conftest import cached_relations, edges_df
from .test_micro_graphs import py_greedy_coloring, py_luby_mis, py_wl_colors

# hub 0 links to and from 1..8 (and 1..7 back); 9 and 13 are dangling
# (in-links only); 10..13 is a second component
PAIRS = (
    [(0, v) for v in range(1, 9)]
    + [(v, 0) for v in range(1, 8)]
    + [(1, 2), (2, 3), (3, 9), (8, 9), (10, 11), (11, 12), (12, 10), (12, 13)]
)
ITERS = 4
CALLER_CONF = (
    "spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.shuffle.partitions",
)


def _mirrors():
    path = pathlib.Path(__file__).resolve().parents[1] / "tools" / "mirror_check.py"
    spec = importlib.util.spec_from_file_location("mirror_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


mc = _mirrors()
UIDS, SRCI, DSTI = mc._compact(
    np.array([s for s, _ in PAIRS]), np.array([d for _, d in PAIRS])
)
WEIGHTS = np.array([1.0 + (s + d) % 3 for s, d in PAIRS])


def _ppr_ref(p, w=None, d=0.85):
    """Power iteration with restart distribution ``p`` and edge weights
    ``w``; uniform ``p`` and unit ``w`` is ``mc.mirror_pagerank``."""
    n = len(UIDS)
    w = np.ones(len(SRCI)) if w is None else w
    outw = np.bincount(SRCI, weights=w, minlength=n)
    dangling = outw == 0
    safe = np.where(dangling, 1.0, outw)
    r = p.copy()
    for _ in range(ITERS):
        dm = r[dangling].sum()
        r = p * ((1 - d) + d * dm) + d * np.bincount(
            DSTI, weights=r[SRCI] * w / safe[SRCI], minlength=n
        )
    return r


def _walk_sums_ref(src, dst, c=1.0, alpha=0.05):
    """Katz (and, with c=0, alpha=1 over both directions, eigenvector)
    centrality: x = c + alpha * A^T x from x = 1, L1-normalized."""
    x = np.ones(len(UIDS))
    for _ in range(ITERS):
        x = c + alpha * np.bincount(dst, weights=x[src], minlength=len(UIDS))
    return x / x.sum()


def _hubs_ref():
    h = np.ones(len(UIDS))
    for _ in range(ITERS):
        a = np.bincount(DSTI, weights=h[SRCI], minlength=len(UIDS))
        h = np.bincount(SRCI, weights=a[DSTI], minlength=len(UIDS))
    return h / h.sum()


def _min_plus_ref(sources, w):
    """Synchronous Bellman-Ford over PAIRS from ``sources`` with integer
    edge weights ``w``: distances over UIDS (-1 = unreached) and the
    supersteps until one changes nothing (the engine's stop rule)."""
    inf = np.iinfo(np.int64).max
    d = np.where(np.isin(UIDS, sources), 0, inf)
    steps = 0
    while True:
        steps += 1
        nd = d.copy()
        for s, t, wt in zip(SRCI, DSTI, w):
            if d[s] != inf:
                nd[t] = min(nd[t], d[s] + wt)
        if (nd == d).all():
            return np.where(d == inf, -1, d), steps
        d = nd


# sources in different components, so each vertex has one (source, id) row
BFS_SOURCES = [0, 12]
BFS_REF = _min_plus_ref(BFS_SOURCES, np.ones(len(SRCI), dtype=np.int64))
SSSP_REF = _min_plus_ref([0], WEIGHTS.astype(np.int64))
# Luby rounds stop once no vertex is undecided: (values, supersteps)
MIS_REF = py_luby_mis(PAIRS, ITERS)
COLORING_REF = py_greedy_coloring(PAIRS, 2, ITERS)


def _exchanges(plan: str) -> list[str]:
    """Exchange nodes of a physical plan string, skipping the build
    plans of cached relations (computed once, not per superstep)."""
    found, cached_at = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-"))
        if cached_at is not None and indent > cached_at:
            continue
        cached_at = None
        node = re.sub(r"^[\s:+\-]*(\*\(\d+\)\s*)?", "", line)
        if node.startswith("InMemoryRelation"):
            cached_at = indent
        if re.match(r"(Broadcast|Reused)?Exchange\b", node):
            found.append(node.split(" ")[0])
    return found


@pytest.fixture
def checkpointed(spark, monkeypatch):
    """The physical plan of every DataFrame that gets localCheckpointed
    (the pre-checkpoint plans, as in test_plan_regression's spy, but
    patched on the concrete DataFrame class, which overrides the
    abstract ``pyspark.sql.DataFrame`` method)."""
    plans: list[str] = []
    cls = type(spark.range(1))
    orig = cls.localCheckpoint

    def spy(self, eager=True):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self, eager=eager)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    return plans


def _weighted(spark):
    return spark.createDataFrame(
        [(s, d, float(w)) for (s, d), w in zip(PAIRS, WEIGHTS)],
        "src long, dst long, weight double",
    )


# both orientations of every pair, deduplicated (PAIRS has no self-loops)
SYM = sorted({(s, d) for s, d in zip(SRCI, DSTI)} | {(d, s) for s, d in zip(SRCI, DSTI)})
SYM_SRC, SYM_DST = (np.array(x) for x in zip(*SYM))


def _hash_min_ref():
    """Synchronous hash-min over SYM: the labels over UIDS and the
    supersteps until one changes nothing (the engine's stop rule)."""
    lab = UIDS.copy()
    steps = 0
    while True:
        steps += 1
        new = lab.copy()
        for s, d in SYM:
            new[d] = min(new[d], lab[s])
        if (new == lab).all():
            return lab, steps
        lab = new


CC_REF = _hash_min_ref()

CASES = {
    # name: (call, result column, expected values over UIDS or None,
    #        setup plans, exchanges per superstep, plans after the loop)
    "pagerank": (
        lambda spark, **kw: pagerank(spark, edges_df(spark, PAIRS), fixed_iters=ITERS, **kw),
        "pagerank",
        lambda: mc.mirror_pagerank(UIDS, SRCI, DSTI, ITERS),
        2, 1, 0,
    ),
    "pagerank_teleport": (
        lambda spark, **kw: pagerank(
            spark, edges_df(spark, PAIRS), fixed_iters=ITERS,
            teleport={0: 1.0, 11: 3.0}, **kw,
        ),
        "pagerank",
        lambda: _ppr_ref(np.where(UIDS == 0, 0.25, np.where(UIDS == 11, 0.75, 0.0))),
        2, 1, 0,
    ),
    "pagerank_weighted": (
        lambda spark, **kw: pagerank(
            spark, _weighted(spark), fixed_iters=ITERS, weight_col="weight", **kw
        ),
        "pagerank",
        lambda: _ppr_ref(np.full(len(UIDS), 1.0 / len(UIDS)), WEIGHTS),
        2, 1, 0,
    ),
    # CC and the traversals stop once no label or distance changes:
    # SUPERSTEPS below
    "components": (
        lambda spark, **kw: connected_components(spark, edges_df(spark, PAIRS), **kw),
        "component",
        lambda: mc.mirror_cc(UIDS, SRCI, DSTI),
        1, 1, 0,
    ),
    "bfs_multi": (
        lambda spark, **kw: bfs_distances_multi(
            spark, edges_df(spark, PAIRS), BFS_SOURCES, **kw
        ),
        "dist",
        lambda: BFS_REF[0],
        1, 1, 0,
    ),
    "sssp": (
        lambda spark, **kw: sssp(
            spark, edges_df(spark, PAIRS), 0,
            weight=(1 + (F.col("src") + F.col("dst")) % 3).cast("bigint"), **kw,
        ),
        "dist",
        lambda: SSSP_REF[0],
        1, 1, 0,
    ),
    "labelprop": (
        lambda spark, **kw: label_propagation(
            spark, edges_df(spark, PAIRS), iters=ITERS, **kw
        ),
        "label",
        lambda: mc.mirror_lp(UIDS, SRCI, DSTI, ITERS),
        1, 1, 0,
    ),
    "katz": (
        lambda spark, **kw: katz(spark, edges_df(spark, PAIRS), fixed_iters=ITERS, **kw),
        "katz",
        lambda: _walk_sums_ref(SRCI, DSTI),
        1, 1, 0,
    ),
    "eigenvector": (
        lambda spark, **kw: eigenvector_centrality(
            spark, edges_df(spark, PAIRS), fixed_iters=ITERS, **kw
        ),
        "eigen",
        lambda: _walk_sums_ref(SYM_SRC, SYM_DST, c=0.0, alpha=1.0),
        1, 1, 0,
    ),
    # the final authority gather over the previous hubs is one more plan
    "hits": (
        lambda spark, **kw: hits(spark, edges_df(spark, PAIRS), fixed_iters=ITERS, **kw),
        "hub",
        _hubs_ref,
        1, 2, 1,
    ),
    # histogram values: test_property_random_graphs' literal mirror
    "anf": (
        lambda spark, **kw: anf_sketch_histogram(spark, edges_df(spark, PAIRS), iters=ITERS, **kw),
        "cnt",
        None,
        1, 1, 0,
    ),
    # the (vertex, value) histogram and its per-vertex suffix-sum window
    "coreness": (
        lambda spark, **kw: coreness(spark, edges_df(spark, PAIRS), fixed_iters=ITERS, **kw),
        "coreness",
        lambda: mc.mirror_coreness(UIDS, SRCI, DSTI, ITERS),
        1, 2, 0,
    ),
    "wl": (
        lambda spark, **kw: wl_colors(spark, edges_df(spark, PAIRS), rounds=ITERS, **kw),
        "wl_color",
        lambda: np.array([py_wl_colors(PAIRS, ITERS)[u] for u in UIDS]),
        1, 1, 0,
    ),
    # a Luby round: the priority gather (planned twice: the winners'
    # filter and the final join both read it) and the exclusion gather
    "luby_mis": (
        lambda spark, **kw: luby_mis(spark, edges_df(spark, PAIRS), fixed_iters=ITERS, **kw),
        "state",
        lambda: np.array([MIS_REF[0][u] for u in UIDS]),
        1, 3, 0,
    ),
    "greedy_coloring": (
        lambda spark, **kw: greedy_coloring(
            spark, edges_df(spark, PAIRS), colors=2, mis_iters=ITERS, **kw
        ),
        "color",
        lambda: np.array([COLORING_REF[0][u] for u in UIDS]),
        1, 3, 0,
    ),
}


SUPERSTEPS = {
    "components": CC_REF[1],
    "bfs_multi": BFS_REF[1],
    "sssp": SSSP_REF[1],
    "luby_mis": MIS_REF[1],
    "greedy_coloring": COLORING_REF[1],
}


def test_reference_is_the_mirror():
    uniform = np.full(len(UIDS), 1.0 / len(UIDS))
    np.testing.assert_allclose(
        _ppr_ref(uniform), mc.mirror_pagerank(UIDS, SRCI, DSTI, ITERS), atol=1e-15
    )
    assert (CC_REF[0] == mc.mirror_cc(UIDS, SRCI, DSTI)).all()
    # PAIRS settles before the budget, so the stop rule is exercised
    assert CC_REF[1] < ITERS


@pytest.mark.parametrize("name", sorted(CASES))
def test_one_exchange_per_superstep_and_mirror_values(spark, checkpointed, name):
    call, col, want, setup, exchanges, tail = CASES[name]
    steps = SUPERSTEPS.get(name, ITERS)
    conf = {k: spark.conf.get(k) for k in CALLER_CONF}
    views = {t.name for t in spark.catalog.listTables("global_temp")}
    cached = cached_relations(spark)

    result = call(spark)

    # isolation: the caller's session is untouched and owns the result;
    # every relation the loop cached is released
    assert {k: spark.conf.get(k) for k in CALLER_CONF} == conf
    assert result.sparkSession is spark
    assert {t.name for t in spark.catalog.listTables("global_temp")} == views
    assert cached_relations(spark) == cached

    # plan shape: setup plans, then one plan per superstep whose only
    # (non-broadcast) shuffles are its message aggregations
    assert len(checkpointed) == setup + steps + tail
    assert not any("BroadcastExchange" in p for p in checkpointed)
    for plan in checkpointed[setup : setup + steps]:
        assert _exchanges(plan) == ["Exchange"] * exchanges, plan

    got = result.toPandas()
    if want is None:
        assert len(got) > 0
        return
    # integer columns (hashed WL colors use 60 bits) compare exactly
    exact = got[col].dtype.kind != "f"
    fill = np.int64(-1) if exact else np.nan
    arr, err = mc._scatter(UIDS, got["id"].to_numpy(), got[col].to_numpy(), fill)
    ref = want()
    # a traversal has no row for an unreached vertex (-1 in its mirror);
    # MIS and coloring have one for every vertex, -1 (undecided) included
    rows = len(UIDS) if name in ("luby_mis", "greedy_coloring") else np.count_nonzero(ref != fill)
    assert err is None and len(got) == rows
    if not exact:
        np.testing.assert_allclose(arr, ref, rtol=0, atol=1e-12)
    else:
        assert (arr == ref).all()


@pytest.mark.parametrize("name", ["pagerank", "components", "labelprop"])
def test_stats_cost_no_job(spark, name):
    """``stats=`` returns per-superstep metrics from the action each
    superstep runs anyway: the same job count as without it, and one
    job per superstep after a fixed setup."""
    call, _, _, setup, _, _ = CASES[name]
    iters = SUPERSTEPS.get(name, ITERS)
    sc = spark.sparkContext

    def jobs(group, **kw):
        sc.setJobGroup(group, group)
        try:
            call(spark, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    stats: dict = {}
    with_stats = jobs(f"superstep-stats-{name}", stats=stats)
    assert with_stats == jobs(f"superstep-plain-{name}")
    assert with_stats == setup + iters
    steps = stats["supersteps"]
    assert [s["iteration"] for s in steps] == list(range(1, iters + 1))
    for s in steps:
        assert s["rows"] == len(UIDS) == sum(p["rows"] for p in s["partitions"])
        assert s["elapsed_s"] > 0
    if name == "pagerank":
        assert all("delta_linf" in s and "dangling_mass" in s for s in steps)
    if name == "components":
        assert steps[-1]["changed"] <= steps[0]["changed"]


def _raising_edges(spark):
    """``PAIRS`` whose ``src`` raises for the one row with ``src`` 12."""
    e = edges_df(spark, PAIRS)
    bad = F.when(e.src == 12, F.raise_error(F.lit("planted edge error")))
    return e.withColumn("src", bad.otherwise(e.src))


# every plan that caches a relation, each on an input that makes it raise
# (PageRank: personalized, whose only seed is no vertex)
RAISING = {
    "pagerank": lambda spark: pagerank(spark, edges_df(spark, PAIRS), teleport={999: 1.0}),
    "k_core": lambda spark: k_core(spark, _raising_edges(spark), 2),
    "densest_subgraph": lambda spark: densest_subgraph(spark, _raising_edges(spark)),
    "bowtie_decomposition": lambda spark: bowtie_decomposition(spark, _raising_edges(spark)),
    "betweenness_sampled": lambda spark: betweenness_sampled(spark, _raising_edges(spark), [0]),
    "ppr_sweep_cut": lambda spark: ppr_sweep_cut(spark, _raising_edges(spark), {0: 1.0}),
    "k_truss": lambda spark: k_truss(spark, _raising_edges(spark), 3),
    "hash_walk_corpus": lambda spark: hash_walk_corpus(spark, _raising_edges(spark)),
    "node2vec_walk_corpus": lambda spark: node2vec_walk_corpus(spark, _raising_edges(spark)),
    "walk_sample_subgraph": lambda spark: walk_sample_subgraph(spark, _raising_edges(spark)),
}


@pytest.mark.parametrize("name", list(RAISING))
def test_loop_that_raises_frees_its_cache(spark, name):
    """A plan that raises still releases every relation it cached through
    the runner, and drops its views."""
    views = {t.name for t in spark.catalog.listTables("global_temp")}
    cached = cached_relations(spark)
    with pytest.raises(Exception, match="no teleport seed|planted edge error"):
        RAISING[name](spark).collect()
    assert cached_relations(spark) == cached
    assert {t.name for t in spark.catalog.listTables("global_temp")} == views


def test_concurrent_callers_share_one_session(spark):
    """Loops started from several threads of one session (as serve.py's
    handlers do) each get their own planning session and views: every
    result matches its mirror and the caller's session is unchanged."""
    from concurrent.futures import ThreadPoolExecutor

    conf = {k: spark.conf.get(k) for k in CALLER_CONF}
    views = {t.name for t in spark.catalog.listTables("global_temp")}
    names = ["pagerank", "components", "labelprop"] * 2
    with ThreadPoolExecutor(len(names)) as pool:
        futures = [pool.submit(lambda n=n: CASES[n][0](spark).toPandas()) for n in names]
        results = [f.result(timeout=300) for f in futures]
    for name, got in zip(names, results):
        _, col, want, *_ = CASES[name]
        arr, err = mc._scatter(UIDS, got["id"].to_numpy(), got[col].to_numpy(), np.nan)
        assert err is None and len(got) == len(UIDS)
        np.testing.assert_allclose(arr, want(), rtol=0, atol=1e-12)
    assert {k: spark.conf.get(k) for k in CALLER_CONF} == conf
    assert {t.name for t in spark.catalog.listTables("global_temp")} == views


# budgets far above the saturation depth of PAIRS
SATURATED = {
    "luby_mis": (
        lambda spark: luby_mis(spark, edges_df(spark, PAIRS), fixed_iters=20),
        "state",
        py_luby_mis(PAIRS, 20),
    ),
    "greedy_coloring": (
        lambda spark: greedy_coloring(spark, edges_df(spark, PAIRS), colors=8, mis_iters=20),
        "color",
        py_greedy_coloring(PAIRS, 8, 20),
    ),
}


@pytest.mark.parametrize("name", sorted(SATURATED))
def test_luby_stops_once_nothing_is_undecided(spark, checkpointed, name):
    """Luby rounds past the first superstep that leaves no vertex
    undecided (no vertex uncolored, for coloring) change nothing: such a
    budget plans only the supersteps up to it, one Spark job each, and
    returns the full-budget mirror's values."""
    call, col, (want, steps) = SATURATED[name]
    setup, tail = CASES[name][3], CASES[name][5]
    assert steps < 20
    sc = spark.sparkContext
    group = f"superstep-saturated-{name}"
    sc.setJobGroup(group, group)
    try:
        result = call(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert len(checkpointed) == setup + steps + tail == jobs
    assert {r["id"]: r[col] for r in result.collect()} == want
