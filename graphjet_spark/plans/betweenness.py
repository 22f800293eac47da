"""Sampled-source betweenness centrality (Brandes' algorithm over a
fixed source set, depth-truncated) — the web-scale form of the classic
bridge-detection centrality (Brandes JMS'01 exact; Brandes/Pich
sampled sources; Riondato/Kornaropoulos bounded-depth sampling).

All-pairs Brandes is O(nm) — impossible at 10^12 vertices — so the
production form fixes k sample sources and a hop budget D, exactly the
shape of the engine's harmonic-centrality estimator.  For each source
s, a forward multi-source BFS accumulates shortest-path counts
``sigma(s, v)`` level by level (state keyed (s, v), k sources in ONE
superstep loop); the backward pass walks levels deepest-first
accumulating Brandes dependencies

    delta(s, v) = sum over shortest-path successors w of
                  sigma_sv / sigma_sw * (1 + delta(s, w))

and bc(v) = sum over sources of delta(s, v) for v != s.

Scale design: identical superstep hygiene to BFS/PageRank — the links
table is laid out once by
:meth:`~graphjet_spark.plans.superstep.SuperstepRunner.layout_edges`
(partitioned + sorted on its join key, released when the runner exits,
also on error), while the loop plans in the caller's session; only narrow
(s, v, sigma/delta) state shuffles per level; sums get map-side
combine.  The output row set is the forward-reachable set (exact, no
float boundary); only the bc value itself is a float, rounded at the
end — which is why the fixed-depth form is cross-engine oracle-able
(unrolled level CTEs in DuckDB, same arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.superstep import SuperstepRunner


def betweenness_sampled(
    spark: SparkSession,
    edges: DataFrame,
    sources: list[int],
    *,
    max_depth: int = 6,
    round_to: int = 6,
) -> DataFrame:
    """Returns ``(id, bc)`` over all vertices reached from any source
    (sources themselves included, with their own delta mass from other
    sources); directed shortest paths, hop budget ``max_depth``."""
    with SuperstepRunner(spark, "betweenness_sampled") as run:
        links = run.layout_edges(
            edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct(),
            "src",
        )
        vertices = (
            links.select(F.col("src").alias("id"))
            .union(links.select(F.col("dst").alias("id")))
            .distinct()
        )
        src_df = (
            spark.createDataFrame([(int(s),) for s in sources], "s bigint")
            .join(vertices, F.col("s") == vertices.id, "left_semi")
        )

        # ---- forward: per-level sigma ----------------------------------
        visited = src_df.select(
            "s", F.col("s").alias("v"), F.lit(0).alias("d"),
            F.lit(1.0).alias("sigma"),
        ).localCheckpoint(eager=True)
        frontier = visited
        depth_reached = 0
        for level in range(1, max_depth + 1):
            cand = (
                frontier.join(links, frontier.v == links.src)
                .groupBy("s", "dst")
                .agg(F.sum("sigma").alias("sigma"))
                .select("s", F.col("dst").alias("v"), "sigma")
            )
            new = (
                cand.join(visited.select("s", "v"), ["s", "v"], "left_anti")
                .select("s", "v", F.lit(level).alias("d"), "sigma")
                .repartition(run.p, "v")
                .localCheckpoint(eager=True)
            )
            if new.limit(1).count() == 0:
                break
            depth_reached = level
            visited = visited.unionByName(new).localCheckpoint(eager=True)
            frontier = new

        # ---- backward: dependency accumulation, deepest level first ----
        deltas = None  # (s, v, delta) for levels below the current one
        for level in range(depth_reached - 1, -1, -1):
            nodes_l = visited.where(F.col("d") == level)
            succ = visited.where(F.col("d") == level + 1).select(
                "s", F.col("v").alias("w"), F.col("sigma").alias("sigma_w")
            )
            if deltas is not None:
                succ = succ.join(
                    deltas.select("s", F.col("v").alias("w"),
                                  F.col("delta").alias("dw")),
                    ["s", "w"],
                    "left",
                ).select(
                    "s", "w", "sigma_w",
                    F.coalesce("dw", F.lit(0.0)).alias("dw"),
                )
            else:
                succ = succ.select("s", "w", "sigma_w", F.lit(0.0).alias("dw"))
            contrib = (
                nodes_l.join(links, nodes_l.v == links.src)
                .join(succ.withColumnRenamed("w", "dst"), ["s", "dst"])
                .groupBy("s", "v")
                .agg(
                    F.sum(
                        F.col("sigma") / F.col("sigma_w")
                        * (F.lit(1.0) + F.col("dw"))
                    ).alias("delta")
                )
            )
            deltas = (
                contrib if deltas is None else deltas.unionByName(contrib)
            ).localCheckpoint(eager=True)

        if deltas is None:
            return visited.select(
                "v"
            ).distinct().select(
                F.col("v").alias("id"), F.lit(0.0).alias("bc")
            )
        # bc(v) = sum over sources of delta(s, v), endpoints excluded
        bc = (
            deltas.where(F.col("v") != F.col("s"))
            .groupBy("v")
            .agg(F.sum("delta").alias("b"))
        )
        return (
            visited.select("v").distinct()
            .join(bc, "v", "left")
            .select(
                F.col("v").alias("id"),
                F.round(F.coalesce("b", F.lit(0.0)), round_to).alias("bc"),
            )
        )
