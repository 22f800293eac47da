"""Single-source shortest paths with edge weights (Bellman-Ford
supersteps).

The weighted companion of :mod:`graphjet_spark.plans.bfs`, on the same
min-plus relaxation
(:meth:`~graphjet_spark.plans.superstep.SuperstepRunner.min_plus`): each
superstep relaxes every edge out of the vertices whose distance changed
in the previous one and keeps the min tentative distance per vertex,
until none changes or the superstep budget is spent.  ``fixed_iters``
supersteps make the unrolled DuckDB oracle exact; on a layered web graph
(cust → order → part → supplier) the distances converge within the
layer depth.

Reference semantics: GraphJet's graph is unweighted, but its typed edges
carry weights in the recommendation layer
(algorithms/counting/TopSecondDegreeByCount weighs paths by seed
weight); this is the closed transitive form.

Distances stay integral (BIGINT) when the weight expression is
integral, which keeps the cross-engine compare exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.bfs import distances


def derived_weight() -> Column:
    """The deterministic integral edge weight shared with the oracle SQL:
    1 + dst % 7 (cheap, skew-free, derivable identically in any engine)."""
    return (F.lit(1) + F.col("dst") % F.lit(7)).cast("bigint")


def sssp(
    spark: SparkSession,
    edges: DataFrame,
    source: int,
    *,
    fixed_iters: int = 30,
    weight: Column | None = None,
) -> DataFrame:
    """Returns (id, dist) for every vertex reached from ``source`` along
    directed edges within at most ``fixed_iters`` supersteps, dist = min
    total weight (``weight`` is an expression over ``src`` and ``dst``,
    :func:`derived_weight` by default)."""
    return distances(
        spark, edges, [source],
        derived_weight() if weight is None else weight,
        F.lit(0).cast("bigint"),
        algo="sssp",
        iters=fixed_iters,
    ).select("id", "dist")
