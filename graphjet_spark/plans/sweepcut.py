"""Local community extraction: personalized-PageRank conductance sweep.

Andersen, Chung & Lang (FOCS'06, "Local graph partitioning using
PageRank vectors"): rank vertices by ppr(v)/deg(v) and sweep prefixes
S_1 ⊂ S_2 ⊂ ... of that order; the prefix minimizing conductance
phi(S) = cut(S) / min(vol(S), vol(V\\S)) is the seed's local community.
This is the standard "community around this page/user" primitive — the
whole-graph-free counterpart of GraphJet's per-user SALSA neighborhood
(reference graphjet-core/src/main/java/com/twitter/graphjet/algorithms/
salsa/SalsaIterations.java:77-146 serves the same product need from
random walks).

Scale shape: the PPR vector reuses the engine's superstep plan
(plans/pagerank.py — sparse state, dangling fold, lineage truncation).
The sweep itself only ever touches the top-k scored vertices: top-k by
TakeOrdered (distributed, no global window), then the prefix volume /
internal-edge folds run on the k-row table (windows over k rows, one
partition by construction) with the edge table joined against the
BROADCAST k-row rank map — per-query work beyond the PPR vector is
O(k + edges-among-top-k), independent of |V|.

Cross-engine determinism: the sweep order is (ROUND(ppr/deg, 9) DESC,
id ASC) — the repo's rounded-score total order — and conductance is a
single DOUBLE division of exact BIGINT cut/volume counts, so the gate
VALUE-compares the whole sweep profile against the unrolled DuckDB
twin (oracles.ppr_sweep_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphjet_spark.plans.components import symmetrize
from graphjet_spark.plans.pagerank import pagerank
from graphjet_spark.plans.superstep import SuperstepRunner


def ppr_sweep_cut(
    spark: SparkSession,
    edges: DataFrame,
    seeds: dict[int, float],
    *,
    fixed_iters: int = 6,
    k: int = 50,
    round_to: int = 9,
) -> DataFrame:
    """``(rank, id, score, conductance)`` for the top-``k`` sweep
    prefixes: row ``rank`` reports phi(S_rank) of the prefix ending at
    ``id``.  The community is the argmin-conductance prefix."""
    ppr = pagerank(spark, edges, fixed_iters=fixed_iters, teleport=seeds)
    with SuperstepRunner(spark, "ppr_sweep_cut") as run:
        sym = run.cache(symmetrize(edges))
        sdeg = sym.groupBy("a").agg(
            F.count(F.lit(1)).cast("bigint").alias("deg")
        )
        # raw ppr > 0 is a discrete reachability fact (identical on both
        # engines): the sweep only ranks the seed's reached neighborhood
        scored = ppr.where(F.col("pagerank") > 0).join(
            sdeg, ppr.id == sdeg.a
        ).select(
            "id",
            F.round(F.col("pagerank") / F.col("deg"), round_to).alias("score"),
            "deg",
        )
        topk = (
            scored.orderBy(F.desc("score"), F.asc("id"))
            .limit(k)
            .coalesce(1)
            .withColumn(
                "rank",
                F.row_number().over(
                    Window.orderBy(F.desc("score"), F.asc("id"))
                ),
            )
            .localCheckpoint(eager=True)  # k rows
        )

        # undirected edges with BOTH endpoints in the top-k: broadcast the
        # k-row rank map twice; each edge becomes internal at prefix
        # max(rank_a, rank_b)
        ra = topk.select(F.col("id").alias("a"), F.col("rank").alias("ra"))
        rb = topk.select(F.col("id").alias("b"), F.col("rank").alias("rb"))
        inside = (
            sym.where(F.col("a") < F.col("b"))
            .join(F.broadcast(ra), "a")
            .join(F.broadcast(rb), "b")
            .select(F.greatest("ra", "rb").alias("mr"))
            .groupBy("mr")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_int"))
            # materialize (<= k rows) before the runner releases sym — lazily
            # it would recompute the symmetrize shuffle uncached at collect
            .localCheckpoint(eager=True)
        )
        total_vol = sym.count()  # = sum of undirected degrees

    w = Window.orderBy("rank")
    prof = (
        topk.join(inside, topk.rank == inside.mr, "left")
        .select(
            "rank",
            "id",
            "score",
            "deg",
            F.coalesce("n_int", F.lit(0)).alias("n_int"),
        )
        .withColumn("vol", F.sum("deg").over(w))
        .withColumn("internal", F.sum("n_int").over(w))
    )
    cut = F.col("vol") - 2 * F.col("internal")
    small = F.least(F.col("vol"), F.lit(total_vol) - F.col("vol"))
    return prof.select(
        "rank",
        "id",
        "score",
        F.when(
            small > 0, F.round(cut.cast("double") / small, round_to)
        ).alias("conductance"),
    )
