"""Layer-4 tests (SURVEY.md §5.2): determinism & mid-run resume.

North rule: "resumable from checkpoint with per-partition lineage +
metrics" — kill after superstep k, resume, reproduce the uninterrupted
run."""

from __future__ import annotations

import pytest

from graphjet_spark.plans.checkpoints import CheckpointManager
from pyspark.sql.functions import col as F_col

from graphjet_spark.plans.pagerank import pagerank

from .conftest import edges_df

PAIRS = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 5), (5, 6), (6, 5), (1, 5), (6, 2)]


def _ranks(df):
    return {r["id"]: r["pagerank"] for r in df.collect()}


def test_resume_matches_uninterrupted(spark, tmp_path):
    e = edges_df(spark, PAIRS)
    full = _ranks(pagerank(spark, e, fixed_iters=10))

    # run 1: "killed" after 4 supersteps (fixed_iters=4 commits 4 iters)
    mgr = CheckpointManager(str(tmp_path), "runA")
    pagerank(spark, e, fixed_iters=4, checkpoint=mgr).collect()
    assert mgr.last_committed() == 4

    # run 2: same manager, full budget — must resume at iter 4, not 0
    resumed = _ranks(pagerank(spark, e, fixed_iters=10, checkpoint=mgr))
    assert mgr.last_committed() == 10
    assert resumed.keys() == full.keys()
    for v in full:
        assert resumed[v] == pytest.approx(full[v], abs=1e-15)

    # metrics: per-partition lineage rows present for every superstep
    rows = mgr.read_metrics()
    assert [m["iteration"] for m in rows] == list(range(1, 11))
    assert all(m["partitions"] and "delta_l1" in m["partitions"][0] for m in rows)
    # convergence metrics monotone-ish: final delta far below first
    assert rows[-1]["delta_linf"] < rows[0]["delta_linf"]


def test_cc_resume_matches_uninterrupted(spark, tmp_path):
    from graphjet_spark.plans.components import connected_components

    e = edges_df(spark, PAIRS)
    full = {
        r["id"]: r["component"]
        for r in connected_components(spark, e, fixed_iters=6).collect()
    }
    mgr = CheckpointManager(str(tmp_path), "cc")
    connected_components(spark, e, fixed_iters=3, checkpoint=mgr).collect()
    assert mgr.last_committed() == 3
    resumed = {
        r["id"]: r["component"]
        for r in connected_components(
            spark, e, fixed_iters=6, checkpoint=mgr
        ).collect()
    }
    assert resumed == full


def test_cc_star_resume_matches_uninterrupted(spark, tmp_path):
    from graphjet_spark.plans.components import connected_components_star

    e = edges_df(spark, PAIRS)
    full = {
        r["id"]: r["component"]
        for r in connected_components_star(spark, e).collect()
    }
    # run 1: "killed" after 2 rounds (max_rounds caps the budget)
    mgr = CheckpointManager(str(tmp_path), "ccstar")
    connected_components_star(spark, e, max_rounds=2, checkpoint=mgr).collect()
    assert mgr.last_committed() == 2
    # run 2: same manager, full budget — resumes from round 2
    resumed = {
        r["id"]: r["component"]
        for r in connected_components_star(spark, e, checkpoint=mgr).collect()
    }
    assert resumed == full
    assert mgr.last_committed() > 2  # it actually continued


def test_commit_is_idempotent_and_atomic(spark, tmp_path):
    e = edges_df(spark, PAIRS)
    mgr = CheckpointManager(str(tmp_path), "runB")
    pagerank(spark, e, fixed_iters=3, checkpoint=mgr).collect()
    st3 = {r["id"]: r["rank"] for r in mgr.read_state(spark, 3).collect()}

    # re-running the same window overwrites identically (idempotent)
    pagerank(spark, e, fixed_iters=3, checkpoint=CheckpointManager(str(tmp_path), "runB")).collect()
    st3b = {r["id"]: r["rank"] for r in mgr.read_state(spark, 3).collect()}
    assert st3 == st3b

    # a dangling .tmp directory is never treated as committed
    import os

    os.makedirs(os.path.join(mgr.state_dir, "iter=99.tmp"))
    assert mgr.last_committed() == 3

    # nor is a leftover stage directory, even one holding _SUCCESS
    stage = os.path.join(mgr.state_dir, "iter=99.__stage__0")
    os.makedirs(stage)
    open(os.path.join(stage, "_SUCCESS"), "w").close()
    assert mgr.last_committed() == 3


def test_warm_start_delta_ingest(spark, tmp_path):
    """Delta-ingest: after edges change, warm-starting from the old
    fixpoint reaches the new fixpoint (unique for damping<1) in fewer
    supersteps than a cold start, with identical converged values."""
    e_old = edges_df(spark, PAIRS)
    old = pagerank(spark, e_old, tol=1e-10)

    new_pairs = PAIRS + [(3, 7), (7, 1), (7, 5)]
    e_new = edges_df(spark, new_pairs)

    cold_mgr = CheckpointManager(str(tmp_path), "cold")
    cold = _ranks(
        pagerank(spark, e_new, tol=1e-10, checkpoint=cold_mgr)
    )
    warm_mgr = CheckpointManager(str(tmp_path), "warm")
    warm = _ranks(
        pagerank(
            spark,
            e_new,
            tol=1e-10,
            checkpoint=warm_mgr,
            warm_start=old.select("id", F_col("pagerank").alias("rank")),
        )
    )
    assert warm.keys() == cold.keys()
    for v in cold:
        assert warm[v] == pytest.approx(cold[v], abs=1e-8)
    assert warm_mgr.last_committed() < cold_mgr.last_committed()


def test_anf_resume_matches_uninterrupted(spark, tmp_path):
    """ANF interrupted after 2 hops resumes and yields a histogram
    identical to an uninterrupted 4-hop run (exact integers)."""
    from graphjet_spark.plans.anf import anf_sketch_histogram
    from graphjet_spark.plans.checkpoints import CheckpointManager

    pairs = [(i, (i * 3) % 40 + 1) for i in range(1, 60)]
    edges = spark.createDataFrame(pairs, "src bigint, dst bigint")

    full = {
        (r["t"], r["sketch_sum"]): r["cnt"]
        for r in anf_sketch_histogram(spark, edges, iters=4).collect()
    }
    ck = CheckpointManager(str(tmp_path), "anf")
    anf_sketch_histogram(spark, edges, iters=2, checkpoint=ck).collect()
    assert ck.last_committed() == 2
    resumed = {
        (r["t"], r["sketch_sum"]): r["cnt"]
        for r in anf_sketch_histogram(
            spark, edges, iters=4, checkpoint=ck
        ).collect()
    }
    assert resumed == full
    assert ck.last_committed() == 4


def test_ppr_grouped_resume_matches_uninterrupted(spark, tmp_path):
    """Grouped PPR interrupted after 2 supersteps resumes to the same
    top-k as an uninterrupted 5-superstep run."""
    from graphjet_spark.plans.checkpoints import CheckpointManager
    from graphjet_spark.plans.pagerank import ppr_grouped

    pairs = [(i, (i * 7) % 30 + 1) for i in range(1, 50)]
    edges = spark.createDataFrame(pairs, "src bigint, dst bigint")
    seeds = [1, 2, 3]

    full = sorted(
        (r["seed"], r["id"], r["ppr"])
        for r in ppr_grouped(
            spark, edges, seeds, fixed_iters=5, k=10
        ).collect()
    )
    ck = CheckpointManager(str(tmp_path), "gppr")
    ppr_grouped(
        spark, edges, seeds, fixed_iters=2, k=10, checkpoint=ck
    ).collect()
    assert ck.last_committed() == 2
    resumed = sorted(
        (r["seed"], r["id"], r["ppr"])
        for r in ppr_grouped(
            spark, edges, seeds, fixed_iters=5, k=10, checkpoint=ck
        ).collect()
    )
    assert resumed == full
    assert ck.last_committed() == 5


def test_scc_resume_matches_uninterrupted(spark, tmp_path):
    """SCC interrupted mid-decomposition (round budget 1) resumes from
    the committed round and matches an uninterrupted run exactly."""
    from graphjet_spark.plans.checkpoints import CheckpointManager
    from graphjet_spark.plans.scc import strongly_connected_components

    pairs = []
    for c in range(4):
        b = 10 * c
        pairs += [(b + 1, b + 2), (b + 2, b + 3), (b + 3, b + 1)]
        if c:
            pairs.append((b - 10 + 1, b + 1))
    pairs += [(100, 101), (101, 102)]  # trimmed DAG tail
    edges = spark.createDataFrame(pairs, "src bigint, dst bigint")

    full = sorted(
        (r["id"], r["scc"])
        for r in strongly_connected_components(spark, edges).collect()
    )
    ck = CheckpointManager(str(tmp_path), "scc")
    strongly_connected_components(
        spark, edges, max_rounds=1, checkpoint=ck
    ).collect()
    assert ck.last_committed() == 1
    resumed = sorted(
        (r["id"], r["scc"])
        for r in strongly_connected_components(
            spark, edges, checkpoint=ck
        ).collect()
    )
    assert resumed == full


@pytest.mark.parametrize("algo", ["cc_star", "scc"])
def test_commits_carry_partition_rows(spark, tmp_path, algo):
    """Every superstep committed by star-CC and SCC (resumed or not)
    carries per-partition lineage rows that add up to its row count."""
    from graphjet_spark.plans.components import connected_components_star
    from graphjet_spark.plans.scc import strongly_connected_components

    run = {
        "cc_star": lambda **kw: connected_components_star(spark, e, **kw),
        "scc": lambda **kw: strongly_connected_components(spark, e, **kw),
    }[algo]
    e = edges_df(spark, PAIRS + [(7, 8), (8, 9), (9, 7)])
    ck = CheckpointManager(str(tmp_path), algo)
    run(max_rounds=1, checkpoint=ck).collect()
    run(checkpoint=ck).collect()
    rows = ck.read_metrics()
    assert [m["iteration"] for m in rows] == list(range(1, ck.last_committed() + 1))
    assert len(rows) >= 2
    for m in rows:
        assert m["partitions"]
        assert sum(p["rows"] for p in m["partitions"]) == m["rows"]
