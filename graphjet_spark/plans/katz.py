"""Katz and eigenvector centrality: one walk-sum power iteration.

Katz (1953) counts attenuated walks into each vertex:
x_{k+1}(v) = 1 + alpha * sum over in-edges (u,v) of x_k(u) — the
geometric-series cousin of PageRank without the degree normalization
(GraphJet's influence surface exposes PageRank/SALSA; Katz completes
the classic centrality family).  Eigenvector (Bonacich) centrality is
the same loop with no constant term and no attenuation, over the
undirected symmetrized graph.

Both run :func:`_walk_sums` on
:class:`~graphjet_spark.plans.superstep.SuperstepRunner`: one exchange
(the ``groupBy(dst)`` sum) and one Spark job per superstep.  Katz
converges for alpha < 1/lambda_max; callers pick a small attenuation
(default 0.05).  Neither needs per-step normalization, so each vector
is L1-normalized once at the end, by the ``sum(x)`` the last superstep
already returns.  ``fixed_iters`` is the oracle-parity mode (unrolled
CTE chains in graphjet_spark.oracles).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.components import symmetrize
from graphjet_spark.plans.superstep import SuperstepRunner


def _walk_sums(
    spark: SparkSession,
    edges: DataFrame,
    pairs: Callable[[DataFrame], DataFrame],
    name: str,
    *,
    c: float,
    alpha: float,
    iters: int,
) -> DataFrame:
    """``(id, name)``: ``iters`` supersteps of x = c + alpha * A^T x
    from x = 1 over the ``(src, dst)`` relation ``pairs(edges)`` and
    its endpoints, L1-normalized once at the end.  Raw attenuated-walk
    counts grow geometrically on hub-heavy graphs; normalizing rescales
    the float64 sum-order noise with them, keeping the output
    cross-engine stable at any magnitude.  Ranking is unchanged."""
    with SuperstepRunner(spark, name) as run:
        e = run.layout_edges(pairs(run.adopt(edges)), "src")
        total = {"x_sum": (F.sum("x"), sum)}

        def step(st: DataFrame, _sc: dict) -> DataFrame:
            g = e.join(st, e.src == st.id).groupBy("dst").agg(F.sum("x").alias("g"))
            return st.join(g, F.col("id") == g.dst, "left").select(
                "id",
                (F.lit(c) + F.lit(alpha) * F.coalesce("g", F.lit(0.0))).alias("x"),
            )

        x = run.run(
            lambda: run.layout(
                e.select(F.col("src").alias("id"))
                .union(e.select(F.col("dst").alias("id")))
                .distinct()
                .select("id", F.lit(1.0).alias("x"))
            ),
            step,
            iters=iters,
            keep=["id", "x"],
            aggs=total,
        )
        # the last superstep's sum(x) (one more action if none ran); it
        # is zero only on an empty graph, which has no rows to divide
        sc = run.history[-1] if run.history else run.materialize(x, total)[1]
        return run.export(
            x.select("id", (F.col("x") / F.lit(float(sc["x_sum"]))).alias(name))
        )


def katz(
    spark: SparkSession,
    edges: DataFrame,
    *,
    alpha: float = 0.05,
    fixed_iters: int = 8,
) -> DataFrame:
    """Returns (id, katz) after exactly ``fixed_iters`` iterations of
    x = 1 + alpha * A^T x over the distinct edge set."""
    return _walk_sums(
        spark,
        edges,
        lambda e: e.select("src", "dst").distinct(),
        "katz",
        c=1.0,
        alpha=alpha,
        iters=fixed_iters,
    )


def eigenvector_centrality(
    spark: SparkSession,
    edges: DataFrame,
    *,
    fixed_iters: int = 8,
) -> DataFrame:
    """(id, eigen) — power iteration x = A^T x over the undirected
    symmetrized simple graph (Bonacich centrality), L1-normalized once
    at the end (scaling commutes with the linear map; the symmetrized
    matrix keeps the iteration irreducible on each component, unlike
    the raw directed form which starves source vertices).  Self-loop-only
    vertices are not in the symmetrized graph and get no row."""
    return _walk_sums(
        spark,
        edges,
        lambda e: symmetrize(e).toDF("src", "dst"),
        "eigen",
        c=0.0,
        alpha=1.0,
        iters=fixed_iters,
    )
