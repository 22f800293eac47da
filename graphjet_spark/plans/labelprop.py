"""Synchronous label propagation with deterministic tie-breaking.

Each superstep every vertex adopts the most frequent label among its
neighbors, ties broken toward the smallest label (SURVEY §2.8; exactness
contract is "fixed iteration count, deterministic tie-break" since LP
has no stable fixpoint in general).

Scale notes: runs on
:class:`~graphjet_spark.plans.superstep.SuperstepRunner`.  The
per-vertex mode is one ``groupBy(a)`` with ``mode(lbl, deterministic)``
(most frequent label, ties to the lowest): its map-side partial combine
builds per-task label histograms, so mega-hub fan-in collapses before
the superstep's one shuffle, and no partition ever sorts a hub's full
neighbor list the way a window would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.checkpoints import CheckpointManager
from graphjet_spark.plans.components import gather_table, symmetrize
from graphjet_spark.plans.superstep import SuperstepRunner


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    *,
    iters: int = 5,
    checkpoint: CheckpointManager | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Returns ``(id, label)`` after exactly ``iters`` synchronous steps.

    Vertices are those incident to at least one non-loop edge (the
    canonical graphs have no isolated vertices).  ``stats`` (optional
    dict) receives the per-superstep metrics under ``"supersteps"``.
    """
    with SuperstepRunner(
        spark, "label_propagation", checkpoint=checkpoint, stats=stats
    ) as run:
        sym = gather_table(run, edges)

        def step(labels: DataFrame, _sc: dict) -> DataFrame:
            return (
                sym.join(labels, sym.b == labels.id)
                .groupBy("a")
                .agg(F.mode("lbl", deterministic=True).alias("lbl"))
                .select(F.col("a").alias("id"), "lbl")
            )

        labels = run.run(
            lambda: run.layout(
                # aliased below the distinct: an alias of ``id`` above
                # the exchange would make the checkpoint keep
                # ``lbl`` as its partitioning key
                sym.select(F.col("a").alias("id"), F.col("a").alias("lbl")).distinct()
            ),
            step,
            iters=iters,
            keep=["id", "lbl"],
        )
        return run.export(labels.select("id", F.col("lbl").alias("label")))


def modularity(
    spark: SparkSession,
    edges: DataFrame,
    labels: DataFrame,
    *,
    round_to: int = 6,
) -> DataFrame:
    """One row (communities, modularity) — Newman modularity of a
    vertex partition over the undirected simple graph:
    Q = sum_c [ s_c/S - (d_c/S)^2 ] with S = |sym| = 2m, s_c = directed
    within-community adjacency count, d_c = total degree of c.

    All sufficient statistics are exact integer sums; the fold to
    float64 happens on the per-community rollup (narrow), so the value
    is stable across engines at ROUND 6."""
    sym = symmetrize(edges)
    la = labels.select(F.col("id").alias("a"), F.col("label").alias("ca"))
    lb = labels.select(F.col("id").alias("b"), F.col("label").alias("cb"))
    lab = sym.join(la, "a").join(lb, "b")
    s_tot = lab.count()
    sc = (
        lab.where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("s_c"))
    )
    dc = (
        lab.groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_c"))
    )
    per_c = dc.join(sc, "c", "left").select(
        "c",
        (
            F.coalesce("s_c", F.lit(0)).cast("double") / F.lit(float(s_tot))
            - (F.col("d_c").cast("double") / F.lit(float(s_tot)))
            * (F.col("d_c").cast("double") / F.lit(float(s_tot)))
        ).alias("q_c"),
    )
    return per_c.agg(
        F.count(F.lit(1)).cast("bigint").alias("communities"),
        F.round(F.sum("q_c"), round_to).alias("modularity"),
    )
