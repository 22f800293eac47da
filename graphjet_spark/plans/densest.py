"""Densest subgraph by greedy peeling (Charikar APPROX'00 /
Bahmani–Kumar–Vassilvitskii VLDB'12 MapReduce form).

Each round computes the current subgraph's density rho = |E|/|V| and
removes every vertex whose induced degree is <= 2(1+eps)*rho; the
densest prefix across rounds is a 2(1+eps)-approximation of the
densest subgraph, reached in O(log n / log(1+eps)) rounds.  On a web
link graph this finds the hub core (link farms, navigational cliques)
— the canonical "where is the graph abnormally dense" audit.

Determinism/oracle notes: with eps chosen so 2(1+eps) = num/den is an
exact rational, the peel condition ``den * deg * |V| <= num * |E|``
and the best-round argmax ``e_r * v_s > e_s * v_r`` (cross-multiplied
BIGINTs) involve no floating point at all, so the fixed-round form
unrolls into a DuckDB twin that matches bit-for-bit.  Density is
rounded only in the final output column.

Scale shape per round: two semi-joins to induce the edge set on the
surviving vertices, one map-side-combined degree count, one filter.
Scalars (|E|, |V|) are two tiny aggregates; state is the shrinking
vertex set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.components import symmetrize
from graphjet_spark.plans.superstep import SuperstepRunner


def densest_subgraph(
    spark: SparkSession,
    edges: DataFrame,
    *,
    rounds: int = 12,
    num: int = 5,
    den: int = 2,
) -> DataFrame:
    """(id, peel_round, density) — vertices of the densest subgraph
    seen while peeling for ``rounds`` rounds at threshold factor
    ``num/den`` (default 5/2 = 2(1+eps) with eps=0.25), with the round
    it was observed at and its density rounded to 6.

    ``peel_round``/``density`` are constant over the output: they ride
    along so the gate value-compares the full decision, not just the
    membership set."""
    with SuperstepRunner(spark, "densest_subgraph") as run:
        sym = run.layout_edges(symmetrize(edges), "a")
        cur = (
            sym.select(F.col("a").alias("id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        best = None  # (e, v, round, vertices_df)
        for r in range(rounds):
            se = (
                sym.join(cur.withColumnRenamed("id", "a"), "a", "left_semi")
                .join(cur.withColumnRenamed("id", "b"), "b", "left_semi")
                .localCheckpoint(eager=True)
            )
            # the round-r subgraph is the NON-ISOLATED induced vertex set:
            # a survivor of round r-1 whose last neighbors were peeled
            # contributes neither edges nor vertices to the density
            deg = (
                se.groupBy("a")
                .agg(F.count(F.lit(1)).alias("deg"))
                .localCheckpoint(eager=True)
            )
            ev = deg.agg(
                (F.sum("deg") / 2).cast("bigint").alias("e"),
                F.count(F.lit(1)).alias("v"),
            ).collect()[0]
            e, v = int(ev["e"] or 0), int(ev["v"])
            if v == 0:
                break
            # exact rational argmax: e/v > e_b/v_b  <=>  e*v_b > e_b*v
            if best is None or e * best[1] > best[0] * v:
                best = (e, v, r, deg.select(F.col("a").alias("id")))
            # survive iff den * deg * v > num * e  (deg <= (num/den)(e/v)
            # peels) — all BIGINT, no floats anywhere in the decision
            cur = (
                deg.where(F.col("deg") * F.lit(den * v) > F.lit(num * e))
                .select(F.col("a").alias("id"))
                .localCheckpoint(eager=True)
            )

        e, v, r, verts = best
        return verts.select(
            "id",
            F.lit(r).cast("int").alias("peel_round"),
            F.expr(f"ROUND(CAST({e} AS DOUBLE) / {v}, 6)").alias("density"),
        )
