"""Hash-min connected components over a DataFrame edge table.

Synchronous min-label flooding: every superstep each vertex takes the
min of its own label and its neighbors' labels; converged when no label
changes.  Exact (north rule).  Hash-min is the weight-0 case of the
min-plus relaxation BFS and SSSP share,
:meth:`~graphjet_spark.plans.superstep.SuperstepRunner.min_plus`: the
symmetrized edge table is laid out by gather key once and persisted, the
``(id, d0, fresh)`` state shares its hash blocks, only the labels that
changed in the previous superstep are sent, and the one shuffle per
superstep is the min-aggregation, whose map-side partial combine keeps
mega-hub vertices from concentrating rows.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, SparkSession, Window
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
    fixed_iters: int = 50,
    checkpoint: CheckpointManager | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Returns ``(id, component)`` — component = min vertex id reachable
    within at most ``fixed_iters`` supersteps, stopping once no label
    changes.  ``stats`` (optional dict) receives the per-superstep
    metrics (rows, changed count, per-partition rows, wall time) under
    ``"supersteps"``."""
    with SuperstepRunner(
        spark, "connected_components", checkpoint=checkpoint, stats=stats
    ) as run:
        sym = symmetrize(run.adopt(edges))
        labels = run.min_plus(
            sym.select(F.col("a").alias("src"), F.col("b").alias("dst"), F.lit(0).alias("w")),
            [F.col("id")],
            iters=fixed_iters,
        )
        return run.export(labels.select("id", F.col("d0").alias("component")))


# ------------------------------------------------- large-star / small-star


def _xor(values: list) -> int:
    return functools.reduce(operator.xor, values, 0)


def _adjacency(pairs: DataFrame) -> DataFrame:
    """Both orientations ``(a, b)`` of every ``(id, v)`` pair.  Each
    star round reads its input once and takes the per-vertex minimum
    with a window, not a groupBy joined back: the runner plans without
    adaptive execution, where a subtree referenced twice is computed
    twice, and the two rounds of one superstep compound that into
    dozens of exchanges."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id").alias("a"), F.col("v").alias("b")),
                F.struct(F.col("v").alias("a"), F.col("id").alias("b")),
            )
        ).alias("e")
    ).select("e.*")


def _large_star(pairs: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): every node links its strictly
    larger neighbors to the minimum of its closed neighborhood."""
    return (
        _adjacency(pairs)
        .withColumn("m", F.least(F.min("b").over(Window.partitionBy("a")), F.col("a")))
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("id"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(pairs: DataFrame) -> DataFrame:
    """Small-star round: every node links its smaller neighbors (and
    itself) to its minimum smaller neighbor.  Input/output pairs are
    normalized id > v."""
    j = (
        _adjacency(pairs)
        .filter(F.col("b") < F.col("a"))
        .withColumn("mn", F.min("b").over(Window.partitionBy("a")))
    )
    own = F.struct(F.col("a").alias("id"), F.col("mn").alias("v"))
    other = F.struct(F.col("b").alias("id"), F.col("mn").alias("v"))
    return (
        j.select(
            F.explode(
                F.when(F.col("b") != F.col("mn"), F.array(own, other)).otherwise(
                    F.array(own)
                )
            ).alias("e")
        )
        .select("e.*")
        .distinct()
    )


def connected_components_star(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_rounds: int = 30,
    checkpoint: CheckpointManager | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by alternating large-star/small-star — the
    O(log n)-round algorithm.  Same answer as :func:`connected_components`
    (component = min reachable id) but convergence is logarithmic in the
    longest path instead of linear: on a length-n chain hash-min floods
    one hop per superstep while star contraction halves pointer depth
    per round.  The per-round edge set only ever shrinks toward one
    star per component, so late rounds are nearly free.

    Runs on :class:`~graphjet_spark.plans.superstep.SuperstepRunner`:
    the state is the star pairs ``(id, v)`` (``id`` > ``v``), one
    superstep is a large-star then a small-star round, and the loop
    stops once ``(rows, bit_xor(xxhash64(id, v)))`` repeats (an
    order-independent checksum that never overflows).  Checkpoint,
    resume and ``stats`` (``stats["supersteps"]``) are the runner's.
    """

    h = {"h": (F.coalesce(F.expr("bit_xor(xxhash64(id, v))"), F.lit(0)), _xor)}
    with SuperstepRunner(
        spark, "connected_components_star", checkpoint=checkpoint, stats=stats
    ) as run:
        # the input may be an expensive un-materialized plan (e.g. a
        # near-dup pair pipeline): the runner's first action computes
        # it once, and nothing after it reads the input again
        pairs = run.run(
            lambda: run.layout(
                run.adopt(edges)
                .select("src", "dst")
                .where(F.col("src") != F.col("dst"))
                .select(
                    F.greatest("src", "dst").alias("id"),
                    F.least("src", "dst").alias("v"),
                )
                .distinct()
            ),
            lambda st, _sc: _small_star(_large_star(st)),
            iters=max_rounds,
            keep=["id", "v"],
            aggs=h,
            start_aggs=h,
            done=lambda s, p: (s["rows"], s["h"]) == (p["rows"], p["h"]),
        )
        # both star rounds keep every non-isolated vertex in some pair,
        # so the pairs' endpoints are the vertex set; converged, pairs
        # is one star per component (id -> component min), and roots
        # label themselves.  A vertex's label is the least ``v`` of its
        # pairs and itself (``v`` < ``id``): one row per vertex also
        # when ``max_rounds`` stops the loop with several pairs per id.
        return run.export(
            pairs.union(pairs.select(F.col("v").alias("id"), "v"))
            .groupBy("id")
            .agg(F.min("v").alias("component"))
        )


def connected_components_delta(
    spark: SparkSession,
    old_labels: DataFrame,
    delta_edges: DataFrame,
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
    merge = connected_components(spark, lifted).select(
        F.col("id").alias("component"), F.col("component").alias("root")
    )

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
