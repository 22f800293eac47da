"""Layer-3 parity tests (SURVEY.md §5.2): GraphJet query-surface
analogues vs literal-minded pure-Python oracles.

Fixture: GraphJet's canonical 3x11 bipartite graph (reference:
graphjet-core/src/test/java/com/twitter/graphjet/algorithms/
BipartiteGraphTestHelper.java:75-95):
    1 -> {2, 3, 4, 5};  2 -> {5, 6, 10};  3 -> {7, 8, 5, 9, 2, 10, 11, 1}
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from graphjet_spark.operators.filters import (
    apply_filter_chain,
    direct_interactions_exclude,
    min_interactions_filter,
    requested_set_filter,
)
from graphjet_spark.operators.sampling import (
    build_alias_table,
    random_multigraph_neighbors,
    sample_alias,
)
from graphjet_spark.operators.secondary import top_second_degree_by_count
from graphjet_spark.operators.similarity import NORMS, intersection_similarity
from graphjet_spark.operators.socialproof import social_proof
from graphjet_spark.plans.salsa import salsa, salsa_montecarlo

from .conftest import cached_relations

CANON = (
    [(1, r) for r in (2, 3, 4, 5)]
    + [(2, r) for r in (5, 6, 10)]
    + [(3, r) for r in (7, 8, 5, 9, 2, 10, 11, 1)]
)


def typed_edges_df(spark, pairs):
    """(src, dst, edge_type=0, seq=insertion order)."""
    rows = [(s, d, 0, i) for i, (s, d) in enumerate(pairs)]
    return spark.createDataFrame(
        rows, "src bigint, dst bigint, edge_type int, seq bigint"
    )


# ---------------------------------------------------------------- oracles


def oracle_intersection(pairs, query, seeds, norm_name, min_cooc=1, min_deg=1):
    """Literal mirror of IntersectionSimilarity.java:77-184 (exact mode)."""
    out = defaultdict(set)
    inn = defaultdict(set)
    for s, d in set(pairs):
        out[s].add(d)
        inn[d].add(s)
    targets = set(seeds) | {query}
    weight = Counter()
    for t in targets:
        for u in inn[t]:
            weight[u] += 1
    f = {
        "cosine": lambda d: 1.0,
        "jaccard": lambda d: 1.0,
        "overlap": lambda d: 1.0,
        "inverse_degree": lambda d: 1.0 / d,
        "scaled": lambda d: math.log(2) / math.log(d) if d > 1 else 0.0,
    }[norm_name]
    g = {
        "cosine": lambda c, sd, qd: 1.0 / math.sqrt(sd),
        "jaccard": lambda c, sd, qd: 1.0 / (sd + qd - c),
        "overlap": lambda c, sd, qd: 1.0,
        "inverse_degree": lambda c, sd, qd: 1.0,
        "scaled": lambda c, sd, qd: 1.0
        / (math.sqrt(sd) * math.sqrt(abs(sd - qd) + 1.0)),
    }[norm_name]
    weighted, raw = Counter(), Counter()
    for u, wu in weight.items():
        if len(out[u]) < min_deg:
            continue
        for r in out[u]:
            weighted[r] += wu * f(len(out[u]))
            raw[r] += wu
    qdeg = len(inn[query])
    res = []
    for r, wc in weighted.items():
        if raw[r] < min_cooc:
            continue
        res.append((r, wc * g(wc, len(inn[r]), qdeg), raw[r], len(inn[r])))
    res.sort(key=lambda t: (-t[1], t[0]))
    return res


_SM = (1 << 31) - 1
_SA = 16807


def _mirror_sample(node, nbrs_sorted, cap, seed, full_when_le):
    """Literal mirror of the engine's deterministic capped gather
    (operators/similarity.py::_sampled_neighbor_sets): full set when the
    degree is within the cap (<= for the seed gather, < for the expand,
    matching the reference's asymmetric comparisons at
    IntersectionSimilarity.java:92,131), else cap samples with
    replacement by Lehmer index, deduped."""
    deg = len(nbrs_sorted)
    within = deg <= cap if full_when_le else deg < cap
    if within:
        return set(nbrs_sorted)
    idxs = {
        ((_SA * ((node % _SM) * cap + j + seed)) % _SM) % deg
        for j in range(cap)
    }
    return {nbrs_sorted[i] for i in idxs}


def oracle_intersection_sampled(
    pairs, query, seeds, norm_name, *, cap1, cap2, sample_seed,
    min_cooc=1, min_deg=1,
):
    """Literal mirror of IntersectionSimilarity.java:88-184 with BOTH
    sampling caps active (maxNumNeighbors on the seed gather,
    maxNumSamplesPerNeighbor on the expand), contributions and degree
    checks on true degrees."""
    out = defaultdict(set)
    inn = defaultdict(set)
    for s, d in set(pairs):
        out[s].add(d)
        inn[d].add(s)
    targets = set(seeds) | {query}
    weight = Counter()
    for t in targets:
        for u in _mirror_sample(t, sorted(inn[t]), cap1, sample_seed, True):
            weight[u] += 1
    f = {
        "cosine": lambda d: 1.0,
        "inverse_degree": lambda d: 1.0 / d,
    }[norm_name]
    g = {
        "cosine": lambda c, sd, qd: 1.0 / math.sqrt(sd),
        "inverse_degree": lambda c, sd, qd: 1.0,
    }[norm_name]
    weighted, raw = Counter(), Counter()
    for u, wu in weight.items():
        true_deg = len(out[u])
        if true_deg < min_deg:
            continue
        for r in _mirror_sample(u, sorted(out[u]), cap2, sample_seed, False):
            weighted[r] += wu * f(true_deg)
            raw[r] += wu
    qdeg = len(inn[query])
    res = []
    for r, wc in weighted.items():
        if raw[r] < min_cooc:
            continue
        res.append((r, wc * g(wc, len(inn[r]), qdeg), raw[r], len(inn[r])))
    res.sort(key=lambda t: (-t[1], t[0]))
    return res


def oracle_salsa(pairs, query, seeds, *, num_walks, walk_length, alpha, frac):
    """Literal mirror of SalsaSubgraphInternalState.java:124-208 +
    SalsaIterations.java:105-146, float mass, exact subgraph."""
    left_set = set(seeds) | {query}
    sub = sorted({(s, d) for s, d in pairs if s in left_set})
    out = defaultdict(list)
    inn = defaultdict(list)
    for s, d in sub:
        out[s].append(d)
        inn[d].append(s)
    w = {s: 1.0 for s in seeds if out[s]}  # request weights default 1.0
    total = float(sum(w.values()))
    if query not in w and out[query]:
        qw = total * frac / (1.0 - frac) if total > 0 else 1.0
        w[query] = qw
        total += qw
    w = {u: wt / total * num_walks for u, wt in w.items()}
    cum = Counter()
    final_contrib = defaultdict(list)
    for step in range(walk_length):
        if step % 2 == 0:
            for u, wu in w.items():
                for v in out[u]:
                    c = wu / len(out[u])
                    cum[v] += c
                    if step == walk_length - 1:
                        final_contrib[v].append((c, u))
            w = {query: alpha * sum(w.values())}
        else:
            new_w = {}
            for u in out:
                g = sum(cum[v] / len(inn[v]) for v in out[u])
                new_w[u] = w.get(u, 0.0) + g
            w = new_w
    total_mass = sum(cum.values())
    return {v: c / total_mass for v, c in cum.items()}, final_contrib


def oracle_salsa_mc(
    pairs, query, seeds, *, num_walks, walk_length, alpha, frac, seed
):
    """Literal mirror of the Monte-Carlo full-graph SALSA per-walk loop
    (fullgraph/LeftSalsaIteration.java:63-95, RightSalsaIteration.java:
    34-46, seeding SalsaIterations.java:105-146) under the engine's
    deterministic Lehmer draws (plans/salsa.py::_mc_draw)."""
    M = (1 << 31) - 1
    A = 16807

    def draw(wid, step, salt):
        x = (wid * 1_000_003 + step * 7_919 + salt * 104_729 + seed) % M
        return (A * x) % M

    out = defaultdict(set)
    inn = defaultdict(set)
    for s, d in set(pairs):
        out[s].add(d)
        inn[d].add(s)
    outl = {u: sorted(v) for u, v in out.items()}
    innl = {v: sorted(u) for v, u in inn.items()}
    w = {s: wt for s, wt in seeds.items() if out.get(s)}
    total = float(sum(w.values()))
    if query not in w and out.get(query):
        qw = total * frac / (1.0 - frac) if total > 0 else 1.0
        w[query] = qw
        total += qw
    walks, wid = {}, 0
    for u in sorted(w):
        c = math.ceil(w[u] / total * num_walks)
        for k in range(c):
            walks[wid + k] = u
        wid += c
    visits = Counter()
    parked = {}
    for step in range(walk_length):
        if step % 2 == 0:  # left: reset draw, then sampled out-hop
            new = {}
            for i, u in sorted(walks.items()):
                if draw(i, step, 0) / M < alpha:
                    parked[i] = query
                    continue
                if u not in outl:
                    continue  # dead end: the walk vanishes
                nbrs = outl[u]
                v = nbrs[draw(i, step, 1) % len(nbrs)]
                visits[v] += 1
                new[i] = v
            walks = new
        else:  # right: sampled in-hop; parked walks rejoin for next left
            new = {}
            for i, v in sorted(walks.items()):
                nbrs = innl[v]
                new[i] = nbrs[draw(i, step, 2) % len(nbrs)]
            new.update(parked)
            parked = {}
            walks = new
    tm = sum(visits.values())
    res = [(v, c, c / tm) for v, c in visits.items()]
    res.sort(key=lambda t: (-t[2], t[0]))
    return res


# ------------------------------------------------------------------ tests


@pytest.mark.parametrize("norm", sorted(NORMS))
def test_intersection_similarity_all_norms(spark, norm):
    got = intersection_similarity(
        typed_edges_df(spark, CANON),
        query_node=5,
        seed_set=[10],
        normalization=norm,
        max_results=20,
        min_cooccurrence=1,
    ).collect()
    want = oracle_intersection(CANON, 5, [10], norm)
    assert [r["id"] for r in got] == [t[0] for t in want]
    for r, t in zip(got, want):
        assert r["score"] == pytest.approx(t[1], abs=1e-12)
        assert r["cooccurrence"] == t[2]
        assert r["degree"] == t[3]


@pytest.mark.parametrize("norm", ["cosine", "inverse_degree"])
def test_intersection_similarity_sampled_caps(spark, norm):
    """Capped-gather mode parity vs the literal sampled-path mirror:
    cap1=2 forces sampling on the query node's seed gather (right degree
    of node 5 is 3 > 2); cap2=4 forces sampling on left nodes 1 (deg 4,
    the reference's strict `<` comparison) and 3 (deg 8)."""
    got = intersection_similarity(
        typed_edges_df(spark, CANON),
        query_node=5,
        seed_set=[10, 2],
        normalization=norm,
        max_results=20,
        min_cooccurrence=1,
        max_num_neighbors=2,
        max_num_samples_per_neighbor=4,
        sample_seed=7,
    ).collect()
    want = oracle_intersection_sampled(
        CANON, 5, [10, 2], norm, cap1=2, cap2=4, sample_seed=7
    )
    assert [r["id"] for r in got] == [t[0] for t in want]
    for r, t in zip(got, want):
        assert r["score"] == pytest.approx(t[1], abs=1e-12)
        assert r["cooccurrence"] == t[2]
        assert r["degree"] == t[3]
    # the caps really bit: sampled output differs from the exact mode
    exact = oracle_intersection(CANON, 5, [10, 2], norm, min_cooc=1)
    assert [(t[0], t[2]) for t in want] != [(t[0], t[2]) for t in exact]


def test_intersection_zero_degree_query_empty(spark):
    got = intersection_similarity(typed_edges_df(spark, CANON), query_node=999)
    assert got.count() == 0


def test_salsa_montecarlo_parity(spark):
    """Per-walk MC SALSA vs the literal walk-loop mirror: exact visit
    counts, both walk lengths parities, resets parked at the query."""
    for wl in (5, 4):
        got = salsa_montecarlo(
            typed_edges_df(spark, CANON),
            query_node=1,
            seeds_with_weight={2: 1.0, 3: 1.0},
            num_walks=100,
            walk_length=wl,
            reset_prob=0.3,
            query_weight_fraction=0.9,
            max_results=None,
            seed=11,
        ).collect()
        want = oracle_salsa_mc(
            CANON, 1, {2: 1.0, 3: 1.0},
            num_walks=100, walk_length=wl, alpha=0.3, frac=0.9, seed=11,
        )
        assert [(r["id"], r["visits"]) for r in got] == [
            (v, c) for v, c, _ in want
        ]
        for r, (_, _, s) in zip(got, want):
            assert r["score"] == pytest.approx(s, rel=1e-12)
    # determinism under repartitioning
    again = salsa_montecarlo(
        typed_edges_df(spark, CANON).repartition(7),
        query_node=1,
        seeds_with_weight={2: 1.0, 3: 1.0},
        num_walks=100,
        walk_length=5,
        seed=11,
        max_results=None,
    ).collect()
    base = salsa_montecarlo(
        typed_edges_df(spark, CANON),
        query_node=1,
        seeds_with_weight={2: 1.0, 3: 1.0},
        num_walks=100,
        walk_length=5,
        seed=11,
        max_results=None,
    ).collect()
    assert again == base


def test_salsa_deterministic_parity(spark):
    got = salsa(
        typed_edges_df(spark, CANON),
        query_node=1,
        seeds_with_weight={2: 1.0, 3: 1.0},
        num_walks=1000,
        walk_length=5,
        reset_prob=0.3,
        query_weight_fraction=0.9,
        max_results=11,
        max_social_proof=2,
    ).collect()
    scores, proofs = oracle_salsa(
        CANON, 1, [2, 3], num_walks=1000, walk_length=5, alpha=0.3, frac=0.9
    )
    want = sorted(scores.items(), key=lambda t: (-t[1], t[0]))
    assert [r["id"] for r in got] == [v for v, _ in want]
    for r, (v, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, rel=1e-9)
    # scores normalized: the full result mass sums to 1
    assert sum(r["score"] for r in got) == pytest.approx(1.0, abs=1e-9)
    # social proof: top contributors of the final forward step
    by_id = {r["id"]: r for r in got}
    for v, contribs in proofs.items():
        want_proof = sorted(contribs, key=lambda t: (-t[0], -t[1]))[:2]
        got_proof = [(p["w"], p["src"]) for p in by_id[v]["social_proof"]]
        assert len(got_proof) == len(want_proof)
        for (gw, gs), (ww, ws) in zip(got_proof, want_proof):
            assert gw == pytest.approx(ww, rel=1e-9)


def test_salsa_weighted_transitions(spark):
    # weighted edges: (src, dst, weight); uniform weights must reproduce
    # the unweighted result exactly, non-uniform must shift mass
    rows = [(s, d, 0, i) for i, (s, d) in enumerate(CANON)]
    uni = spark.createDataFrame(
        [(s, d, t, q, 1.0) for s, d, t, q in rows],
        "src bigint, dst bigint, edge_type int, seq bigint, weight double",
    )
    base = salsa(
        typed_edges_df(spark, CANON), 1, {2: 1.0, 3: 1.0}, max_results=11
    ).collect()
    w_uni = salsa(
        uni, 1, {2: 1.0, 3: 1.0}, max_results=11, weight_col="weight"
    ).collect()
    assert [(r["id"], pytest.approx(r["score"], rel=1e-12)) for r in base] == [
        (r["id"], r["score"]) for r in w_uni
    ]
    # now overweight edge 1->5: node 5's score must strictly increase
    skew = spark.createDataFrame(
        [
            (s, d, t, q, 10.0 if (s, d) == (1, 5) else 1.0)
            for s, d, t, q in rows
        ],
        "src bigint, dst bigint, edge_type int, seq bigint, weight double",
    )
    w_skew = {
        r["id"]: r["score"]
        for r in salsa(
            skew, 1, {2: 1.0, 3: 1.0}, max_results=11, weight_col="weight"
        ).collect()
    }
    base_scores = {r["id"]: r["score"] for r in base}
    assert w_skew[5] > base_scores[5]


def test_salsa_calls_leave_no_cached_relation(spark):
    """The returned lazy plan reads the laid-out links, so they are an
    eager checkpoint, not a persist no caller could ever release: repeated
    calls leave Spark's cache manager as they found it."""
    e = typed_edges_df(spark, CANON)
    cached = cached_relations(spark)
    for _ in range(3):
        salsa(e, query_node=1, seeds_with_weight={2: 1.0}).collect()
    assert cached_relations(spark) == cached


def test_salsa_rejects_even_walk_length(spark):
    with pytest.raises(ValueError):
        salsa(typed_edges_df(spark, CANON), 1, walk_length=4)


def test_top_second_degree_by_count(spark):
    got = top_second_degree_by_count(
        typed_edges_df(spark, CANON),
        {1: 1.5, 2: 1.0},
        max_results=11,
        max_social_proof=2,
    ).collect()
    # oracle: weight[dst] = sum of seed weights over deduped (seed,dst,type)
    w = Counter()
    visits = Counter()
    for s, wt in [(1, 1.5), (2, 1.0)]:
        for d in {d for ss, d in CANON if ss == s}:
            w[d] += wt
            visits[d] += 1
    want = sorted(w.items(), key=lambda t: (-t[1], t[0]))
    assert [(r["id"], r["weight"]) for r in got] == want
    by_id = {r["id"]: r for r in got}
    assert by_id[5]["visits"] == 2
    assert {p["src"] for p in by_id[5]["social_proof"]} == {1, 2}
    assert by_id[5]["proof_types"] == [0]


def test_top_second_degree_edge_cap(spark):
    # cap=2 keeps only the 2 latest edges per seed (by seq desc)
    got = top_second_degree_by_count(
        typed_edges_df(spark, CANON), {1: 1.0}, max_edges_per_node=2, max_results=11
    ).collect()
    assert {r["id"] for r in got} == {4, 5}  # last two of 1 -> {2,3,4,5}


def test_social_proof(spark):
    got = social_proof(
        typed_edges_df(spark, CANON),
        input_nodes=[5, 10, 99],
        seeds_with_weight={1: 1.0, 2: 2.0, 3: 0.5},
        proof_types=[0],
    ).collect()
    by_id = {r["id"]: r for r in got}
    assert set(by_id) == {5, 10, 99}  # every input present (:130-136)
    assert by_id[5]["weight"] == pytest.approx(3.5)  # 1.0 + 2.0 + 0.5
    assert by_id[10]["weight"] == pytest.approx(2.5)
    assert by_id[99]["weight"] == 0.0 and by_id[99]["proofs"] == []
    assert by_id[5]["proofs"][0]["users"] == [1, 2, 3]


def test_time_range_and_type_filters(spark):
    from datetime import datetime

    from graphjet_spark.operators.filters import (
        social_proof_types_filter,
        time_range_filter,
    )

    rows = [
        (1, datetime(2026, 1, 1), [0, 2]),
        (2, datetime(2026, 1, 5), [1]),
        (3, datetime(2026, 1, 9), [2, 3]),
    ]
    df = spark.createDataFrame(
        rows, "id bigint, warc_ts timestamp, proof_types array<int>"
    )
    # F2/F8: keep ts within [after, before]
    kept = apply_filter_chain(
        df, [time_range_filter(datetime(2026, 1, 2), datetime(2026, 1, 8))]
    )
    assert {r["id"] for r in kept.collect()} == {2}
    # F5: drop rows whose proof types miss the requested set
    kept = apply_filter_chain(df, [social_proof_types_filter([2])])
    assert {r["id"] for r in kept.collect()} == {1, 3}
    # F6 card filter: isin over decoded card codes
    from graphjet_spark.functions import idcodec
    from pyspark.sql import functions as F

    ids = spark.createDataFrame(
        [(idcodec._signed64(7 | (c << 61)),) for c in (0, 2, 4)], "nid bigint"
    )
    kept = ids.filter(idcodec.card_type(F.col("nid")).isin([2, 4]))
    assert kept.count() == 2


def test_filter_chain(spark):
    df = typed_edges_df(spark, CANON).groupBy("dst").count().select(
        "dst", "count"
    ).withColumnRenamed("dst", "id").withColumnRenamed("count", "degree")
    out = apply_filter_chain(
        df,
        [requested_set_filter([5]), min_interactions_filter(2)],
        exclude_tables=[
            direct_interactions_exclude(typed_edges_df(spark, CANON), 1)
        ],
    )
    ids = {r["id"] for r in out.collect()}
    # degree>=2: {2,5,10}; minus requested {5}; minus 1's neighbors {2,3,4,5}
    assert ids == {10}


def test_metadata_recs_rollup(spark):
    from graphjet_spark.operators.metadata import metadata_recs

    cands = spark.createDataFrame(
        [(2, 2.5), (5, 1.0), (10, 0.5)], "id bigint, weight double"
    )
    meta = spark.createDataFrame(
        # right nodes 2,5 share meta 100; 10 has meta 200; type 1 rows noise
        [(2, 0, 100), (5, 0, 100), (10, 0, 200), (2, 1, 999)],
        "id bigint, meta_type int, meta_id bigint",
    )
    got = metadata_recs(cands, meta, meta_type=0, max_results=10).collect()
    assert [(r["meta_id"], r["weight"], r["n_candidates"]) for r in got] == [
        (100, 3.5, 2),
        (200, 0.5, 1),
    ]
    assert got[0]["sources"] == [2, 5]
    # min_candidates filter (reference's min-count rule)
    got2 = metadata_recs(cands, meta, meta_type=0, min_candidates=2).collect()
    assert [r["meta_id"] for r in got2] == [100]


def test_node_meta_table_from_pages(spark):
    from graphjet_spark.plans.build_edges import node_meta_table
    from graphjet_spark.sources.pages import CorpusSpec, synthesize_pages

    pdf, _ = synthesize_pages(CorpusSpec(64))
    meta = node_meta_table(spark.createDataFrame(pdf))
    rows = meta.collect()
    assert {r["meta_type"] for r in rows} == {0, 1}
    # every vertex has exactly one lang and one domain meta row
    n = len(pdf)
    assert sum(1 for r in rows if r["meta_type"] == 0) == n
    assert sum(1 for r in rows if r["meta_type"] == 1) == n


def test_alias_table_statistics():
    import numpy as np

    weights = np.array([1.0, 2.0, 7.0])
    prob, alias = build_alias_table(weights)
    rng = np.random.default_rng(7)
    draws = sample_alias(prob, alias, 200_000, rng)
    freq = np.bincount(draws, minlength=3) / 200_000
    np.testing.assert_allclose(freq, weights / weights.sum(), atol=0.01)


def test_random_multigraph_neighbors(spark):
    got = random_multigraph_neighbors(
        typed_edges_df(spark, CANON),
        {1: 1.0, 3: 1.0},
        max_num_samples=20_000,
        max_results=11,
        seed=42,
    )
    rows = got.collect()
    # deterministic: same seed -> identical result
    rows2 = random_multigraph_neighbors(
        typed_edges_df(spark, CANON),
        {1: 1.0, 3: 1.0},
        max_num_samples=20_000,
        max_results=11,
        seed=42,
    ).collect()
    assert rows == rows2
    # statistics: P(5) = P(draw 1)*1/4 + P(draw 3)*1/8 = (1/3)/4 + (2/3)/8
    by_id = {r["id"]: r["score"] for r in rows}
    assert by_id[5] == pytest.approx(1 / 12 + 1 / 12, abs=0.02)
    assert sum(by_id.values()) == pytest.approx(1.0, abs=1e-9)


def test_rec_backtest_hand_fixture(spark):
    """rec_backtest on a hand-built timeline: users 1,2 co-engage items
    10,11 before the cutoff, so each other's third item is the top rec;
    user 1 actually engages it after the cutoff (hit), user 2 does not."""
    import datetime as dt

    from pyspark.sql import functions as F

    from graphjet_spark.operators.projection import rec_backtest

    t0 = dt.datetime(2024, 1, 1)
    cut = dt.datetime(2024, 6, 1)
    rows = [
        # before cutoff: 1 -> {10, 11, 12}; 2 -> {10, 11, 13}; 3 -> {10}
        (1, 10, t0, 1), (1, 11, t0, 2), (1, 12, t0, 3),
        (2, 10, t0, 4), (2, 11, t0, 5), (2, 13, t0, 6),
        (3, 10, t0, 7),
        # after cutoff: user 1 picks up 13 (a hit); user 2 picks 99
        (1, 13, dt.datetime(2024, 7, 1), 8),
        (2, 99, dt.datetime(2024, 7, 1), 9),
    ]
    inter = spark.createDataFrame(
        rows, "src bigint, dst bigint, ts timestamp, seq bigint"
    )
    row = rec_backtest(
        inter, F.lit(cut.isoformat(sep=" ")).cast("timestamp"),
        k=2, min_cooccurrence=2,
    ).first()
    # co-engagement pairs (weight>=2): (10,11) w2. 12/13 pair with
    # 10/11 only once -> below floor, so candidates come from the
    # (10,11) pair alone: every user holding 10 or 11 is recommended
    # the other; 1 and 2 hold both (no unseen rec), 3 is recommended 11
    assert (
        row["n_users"], row["n_recs"], row["n_hits"], row["precision"],
    ) == (1, 1, 0, 0.0)
    # lower the floor: 13 pairs with 10,11 (w1 each) -> user 1's top
    # unseen candidate is 13 (score 2 via its two pairs), a real hit
    row = rec_backtest(
        inter, F.lit(cut.isoformat(sep=" ")).cast("timestamp"),
        k=1, min_cooccurrence=1,
    ).first()
    assert row["n_hits"] >= 1 and row["precision"] > 0


def test_markov_backtest_hand_fixture(spark):
    """Hand-built timeline: training says a->b (2 of 3) beats a->c;
    after the cutoff user transitions a->b (correct), a->c (wrong),
    and z->b where z was never a training from-type (no prediction,
    counted wrong)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from graphjet_spark.operators.sessions import markov_backtest

    t0 = dt.datetime(2024, 1, 1)

    def ev(i, user, typ, minutes):
        return (i, t0 + dt.timedelta(minutes=minutes), user, typ)

    rows = [
        # user 1 before cutoff: a->b, b->a, a->b  (a->b count 2)
        ev(1, 1, "a", 0), ev(2, 1, "b", 1), ev(3, 1, "a", 2),
        ev(4, 1, "b", 3),
        # user 2 before cutoff: a->c (a->c count 1)
        ev(5, 2, "a", 0), ev(6, 2, "c", 1),
        # after cutoff (minute >= 100): user 1: b->a (train b->a is
        # argmax), then a->b (correct), user 2: a->c (wrong: pred b),
        # user 3: z->b (unseen from-type)
        ev(7, 1, "a", 100), ev(8, 1, "b", 101),
        ev(9, 2, "a", 100), ev(10, 2, "c", 101),
        ev(11, 3, "z", 100), ev(12, 3, "b", 101),
    ]
    events = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    cut = (t0 + dt.timedelta(minutes=50)).isoformat(sep=" ")
    row = markov_backtest(events, F.lit(cut)).first()
    # eval pairs (latter after cutoff): 1:(b@3 -> a@100)? nxt_us>cutoff
    # pairs: u1 b@3->a@100 (pred b->a: correct), a@100->b@101 (pred
    # a->b: correct), u2 c@1->a@100 (pred? c unseen from-type in
    # training: c@1's nxt... c->a eval, c has no training row: wrong),
    # a@100->c@101 (pred b: wrong), u3 z->b (wrong)
    assert (row["n_eval"], row["n_correct"]) == (5, 2)
    assert row["accuracy"] == 0.4
