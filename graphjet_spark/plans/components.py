"""Hash-min connected components over a DataFrame edge table.

Synchronous min-label flooding: every superstep each vertex takes the
min of its own label and its neighbors' labels; converged when no label
changes.  Exact (north rule).  Runs on
:class:`~graphjet_spark.plans.superstep.SuperstepRunner`, like
:mod:`graphjet_spark.plans.pagerank`: the symmetrized edge table is
hash-partitioned and sorted by gather key once and persisted, the
``(id, comp)`` state shares its hash blocks, and the one shuffle per
superstep is the min-aggregation, whose map-side partial combine keeps
mega-hub vertices from concentrating rows.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.checkpoints import CheckpointManager
from graphjet_spark.plans.superstep import SuperstepRunner


def symmetrize(edges: DataFrame) -> DataFrame:
    """Distinct undirected adjacency (a, b) with both orientations."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    return (
        e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(e.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )


def gather_table(run: SuperstepRunner, edges: DataFrame) -> DataFrame:
    """The symmetrized edges in the runner's session, laid out by the
    gather key ``b``: the co-partitioned ``(id, ...)`` state joins it
    without an exchange."""
    return run.layout_edges(symmetrize(run.adopt(edges)), "b")


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_iter: int = 50,
    fixed_iters: int | None = None,
    checkpoint: CheckpointManager | None = None,
    partitions: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Returns ``(id, component)`` — component = min vertex id reachable.
    ``stats`` (optional dict) receives the per-superstep metrics (rows,
    changed count, per-partition rows, wall time) under ``"supersteps"``."""
    with SuperstepRunner(
        spark, "connected_components", partitions, checkpoint, stats
    ) as run:
        sym = gather_table(run, edges)

        def step(labels: DataFrame, _sc: dict) -> DataFrame:
            mins = (
                sym.join(labels, sym.b == labels.id)
                .groupBy("a")
                .agg(F.min("comp").alias("mn"))
            )
            return (
                labels.withColumnRenamed("comp", "prev")
                .join(mins, F.col("id") == mins.a, "left")
                .select(
                    "id",
                    F.least("prev", F.coalesce("mn", F.col("prev"))).alias("comp"),
                    "prev",
                )
            )

        labels = run.run(
            lambda: run.layout(
                # aliased below the distinct: an alias of ``id`` above
                # the exchange would make the checkpoint keep
                # ``comp`` as its partitioning key
                sym.select(F.col("a").alias("id"), F.col("a").alias("comp")).distinct()
            ),
            step,
            iters=fixed_iters if fixed_iters is not None else max_iter,
            keep=["id", "comp"],
            aggs={"changed": (F.count_if(F.col("comp") != F.col("prev")), sum)},
            done=None if fixed_iters is not None else lambda s: s["changed"] == 0,
        )
        sym.unpersist()
        return run.export(labels.select("id", F.col("comp").alias("component")))


# ------------------------------------------------- large-star / small-star


def _large_star(pairs: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): every node links its strictly
    larger neighbors to the minimum of its closed neighborhood."""
    adj = (
        pairs.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .union(pairs.select(F.col("v").alias("a"), F.col("u").alias("b")))
    )
    mins = adj.groupBy("a").agg(F.min("b").alias("mn"))
    return (
        adj.join(mins, "a")
        .withColumn("m", F.least("mn", "a"))
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(pairs: DataFrame) -> DataFrame:
    """Small-star round: every node links its smaller neighbors (and
    itself) to its minimum smaller neighbor.  Input/output pairs are
    normalized u > v."""
    adj = (
        pairs.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .union(pairs.select(F.col("v").alias("a"), F.col("u").alias("b")))
        .filter(F.col("b") < F.col("a"))
    )
    mins = adj.groupBy("a").agg(F.min("b").alias("mn"))
    j = adj.join(mins, "a")
    return (
        j.filter(F.col("b") != F.col("mn"))
        .select(F.col("b").alias("u"), F.col("mn").alias("v"))
        .union(j.select(F.col("a").alias("u"), F.col("mn").alias("v")))
        .distinct()
    )


def connected_components_star(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_rounds: int = 30,
    checkpoint: CheckpointManager | None = None,
    partitions: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by alternating large-star/small-star — the
    O(log n)-round algorithm.  Same answer as :func:`connected_components`
    (component = min reachable id) but convergence is logarithmic in the
    longest path instead of linear: on a length-n chain hash-min floods
    one hop per superstep while star contraction halves pointer depth
    per round.  The per-round edge set only ever shrinks toward one
    star per component, so late rounds are nearly free.

    Same checkpoint/resume contract as the other supersteps: each round
    commits the (u, v) pair state + metrics; an interrupted run resumes
    from the last committed round.  ``stats`` (optional dict) receives
    {"rounds": ...} for round-count assertions.
    """
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    pairs = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .distinct()
        .repartition(partitions, "u")
        .localCheckpoint(eager=True)
    )
    # vertices derive from the CHECKPOINTED pairs, not the raw input:
    # the input may be an expensive un-materialized plan (e.g. a
    # near-dup pair pipeline) and must be computed exactly once
    vertices = (
        pairs.select(F.col("u").alias("id"))
        .union(pairs.select(F.col("v").alias("id")))
        .distinct()
        .persist()
    )

    start_round = 0
    if checkpoint is not None:
        last = checkpoint.last_committed()
        if last is not None:
            start_round = last
            pairs = checkpoint.read_state(spark, last).select("u", "v")

    prev_sig = None
    rounds_run = start_round
    for rnd in range(start_round, max_rounds):
        t0 = time.time()
        new = _small_star(_large_star(pairs)).localCheckpoint(eager=False)
        # fixed-point signature: count + order-independent XOR checksum
        # (bit_xor never overflows, unlike a sum of 64-bit hashes)
        sig_row = new.agg(
            F.count(F.lit(1)).alias("cnt"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        sig = (sig_row["cnt"], sig_row["h"])
        pairs = new
        rounds_run = rnd + 1
        if checkpoint is not None:
            metrics = {
                "algo": "connected_components_star",
                "rows": sig[0],
                "elapsed_s": time.time() - t0,
            }
            committed = checkpoint.commit_state(rnd + 1, pairs, metrics)
            pairs = spark.read.parquet(committed)
        if sig == prev_sig:
            break
        prev_sig = sig
    if stats is not None:
        stats["rounds"] = rounds_run

    # converged: pairs is one star per component (u -> component min);
    # roots and isolated vertices label themselves
    labels = (
        vertices.join(pairs, vertices.id == pairs.u, "left")
        .select("id", F.coalesce("v", F.col("id")).alias("component"))
    )
    vertices.unpersist()
    return labels


def connected_components_delta(
    spark: SparkSession,
    old_labels: DataFrame,
    delta_edges: DataFrame,
    *,
    max_iter: int = 50,
    partitions: int | None = None,
) -> DataFrame:
    """Labels of ``G ∪ ΔE`` from converged labels of ``G`` — the
    delta-ingest path.  GraphJet appends edges to a live segment and
    serves queries over old + new immediately (reference bipartite/
    segment/MultiSegmentBipartiteGraph growth path); the batch analogue
    is re-labeling after an append WITHOUT re-flooding the whole graph.

    Appending edges can only MERGE components, so hash-min runs on the
    CONDENSED graph whose vertices are the old component labels touched
    by ΔE (plus brand-new vertices), then old labels map through the
    resulting merge table.  Superstep work is proportional to |ΔE| and
    the handful of affected components — the untouched remainder of a
    100-TB graph never enters a shuffle; the only full-size operation
    is the final output-sized remap join.

    ``old_labels`` must be converged ``(id, component)`` with
    component = min reachable vertex id (what
    :func:`connected_components` / :func:`connected_components_star`
    return).  Old labels are min ids of their old components and
    merging takes the min over merged label groups, so the output is
    again exactly the min reachable id — identical to a full recompute
    (property-tested vs union-find).
    """
    lab = old_labels.select("id", "component")
    e = delta_edges.select("src", "dst")
    ls = lab.select(F.col("id").alias("src"), F.col("component").alias("lsrc"))
    ld = lab.select(F.col("id").alias("dst"), F.col("component").alias("ldst"))
    lifted = (
        e.join(ls, "src", "left")
        .join(ld, "dst", "left")
        .select(
            F.coalesce("lsrc", F.col("src")).alias("src"),
            F.coalesce("ldst", F.col("dst")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    merge = connected_components(
        spark, lifted, max_iter=max_iter, partitions=partitions
    ).select(F.col("id").alias("component"), F.col("component").alias("root"))

    # brand-new vertices (absent from the old labeling) start as their
    # own label, then remap exactly like old labels; a new vertex whose
    # condensed edges were all self-loops stays its own component.
    new_ids = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .join(lab, "id", "left_anti")
    )
    base = lab.unionByName(
        new_ids.select("id", F.col("id").alias("component"))
    )
    return base.join(merge, "component", "left").select(
        "id", F.coalesce("root", F.col("component")).alias("component")
    )
