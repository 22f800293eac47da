"""BFS hop distances (directed), from one source or from k at once.

The traversal primitive under every "within k hops" product question
(the 2-hop reach gate generalized to arbitrary depth).  Superstep i
relaxes one hop: dist(v) = min(dist(v), min over in-edges (u,v) of
dist(u)+1) — the weight-1 case of the min-plus relaxation on
:meth:`~graphjet_spark.plans.superstep.SuperstepRunner.min_plus`, which
CC and SSSP share: only the rows whose distance changed in the previous
superstep send, and the loop stops once none changed, so
``fixed_iters`` bounds depth exactly — the oracle-parity mode the
unrolled DuckDB SQL mirrors — without paying for rounds past
saturation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.superstep import SuperstepRunner


def distances(
    spark: SparkSession,
    edges: DataFrame,
    sources: list[int],
    weight: Column,
    zero: Column,
    *,
    algo: str,
    iters: int,
) -> DataFrame:
    """``(source, id, dist)``: min total ``weight`` (an expression over
    ``src`` and ``dst``) of a path over the distinct directed edges from
    each source, within ``iters`` supersteps; a source is at ``zero``."""
    sources = list(dict.fromkeys(int(s) for s in sources))
    if not sources:
        raise ValueError("no source vertex given")
    with SuperstepRunner(spark, algo) as run:
        e = run.adopt(edges).select("src", "dst").distinct()
        state = run.min_plus(
            e.select("src", "dst", weight.alias("w")),
            [F.when(F.col("id") == s, zero) for s in sources],
            iters=iters,
            ids=run.child.createDataFrame([(s,) for s in sources], "id bigint"),
        )
        rows = [
            F.struct(F.lit(s).cast("bigint").alias("source"), F.col(f"d{i}").alias("dist"))
            for i, s in enumerate(sources)
        ]
        return run.export(
            state.select("id", F.explode(F.array(*rows)).alias("r"))
            .select("r.source", "id", "r.dist")
            .where(F.col("dist").isNotNull())
        )


def bfs_distances(
    spark: SparkSession,
    edges: DataFrame,
    source: int,
    *,
    fixed_iters: int = 8,
) -> DataFrame:
    """Returns (id, dist) for vertices reachable from ``source`` within
    ``fixed_iters`` directed hops (dist = minimum hop count)."""
    multi = bfs_distances_multi(spark, edges, [source], fixed_iters=fixed_iters)
    return multi.select("id", "dist")


def bfs_distances_multi(
    spark: SparkSession,
    edges: DataFrame,
    sources: list[int],
    *,
    fixed_iters: int = 8,
) -> DataFrame:
    """Multi-source BFS: (source, id, dist) for each source in one
    superstep loop — one distance column per source, so k sources cost
    one iteration sequence instead of k (the per-seed fan-out trick from
    the second-degree operators applied to traversal depth)."""
    return distances(
        spark, edges, sources, F.lit(1), F.lit(0),
        algo="bfs_distances", iters=fixed_iters,
    )


def harmonic_centrality(
    spark: SparkSession,
    edges: DataFrame,
    sources: list[int],
    *,
    fixed_iters: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """(source, reached, harmonic) — harmonic centrality of each source
    over its ``fixed_iters``-hop reachable set: sum of 1/dist (Boldi &
    Vigna 2014; the sampled-source estimator is the standard form at
    web scale where all-pairs BFS is impossible)."""
    d = bfs_distances_multi(
        spark, edges, sources, fixed_iters=fixed_iters
    ).where(F.col("dist") > 0)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("reached"),
        F.round(
            F.sum(F.lit(1.0) / F.col("dist").cast("double")), round_to
        ).alias("harmonic"),
    )


def closeness_centrality(
    spark: SparkSession,
    edges: DataFrame,
    sources: list[int],
    *,
    fixed_iters: int = 8,
    round_to: int = 9,
) -> DataFrame:
    """(source, reached, closeness) — Wasserman–Faust closeness of each
    sampled source over its ``fixed_iters``-hop reachable set:
    (reached / sum of dist) · (reached / (n - 1)), the standard
    disconnected-graph correction (n = vertex count of the graph).
    Same sampled-source estimator shape as :func:`harmonic_centrality`
    — one multi-source superstep loop, never all-pairs."""
    n = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .count()
    )
    d = bfs_distances_multi(
        spark, edges, sources, fixed_iters=fixed_iters
    ).where(F.col("dist") > 0)
    reached = F.count(F.lit(1)).cast("bigint")
    return d.groupBy("source").agg(
        reached.alias("reached"),
        F.round(
            (reached.cast("double") / F.sum(F.col("dist").cast("double")))
            * (reached.cast("double") / F.lit(float(n - 1))),
            round_to,
        ).alias("closeness"),
    )


def landmark_labels(
    spark: SparkSession,
    edges: DataFrame,
    landmarks: list[int],
    *,
    fixed_iters: int = 6,
) -> DataFrame:
    """Landmark distance-label index (the sampled-landmark form of
    2-hop/pruned landmark labeling, Akiba et al. SIGMOD'13): for every
    vertex, the directed hop distance FROM each landmark (``d_from``)
    and TO each landmark (``d_to``, BFS over reversed edges), bounded
    by the hop budget; -1 marks unreachable-within-budget.  The
    linear-size index behind constant-time distance estimation at web
    scale: est(u, w) = min over landmarks l of d_to(u,l) + d_from(l,w)
    (an upper bound, exact when a shortest path crosses a landmark).

    Both directions run as ONE multi-source superstep loop each (one
    distance column per landmark, same hygiene as every engine BFS)."""
    fwd = bfs_distances_multi(spark, edges, landmarks, fixed_iters=fixed_iters)
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    bwd = bfs_distances_multi(spark, rev, landmarks, fixed_iters=fixed_iters)
    f = fwd.select(
        F.col("source").alias("landmark"), "id", F.col("dist").alias("d_from")
    )
    b = bwd.select(
        F.col("source").alias("landmark"), "id", F.col("dist").alias("d_to")
    )
    return (
        f.join(b, ["landmark", "id"], "full_outer")
        .select(
            "landmark",
            "id",
            F.coalesce("d_from", F.lit(-1)).cast("int").alias("d_from"),
            F.coalesce("d_to", F.lit(-1)).cast("int").alias("d_to"),
        )
    )


def landmark_distance_estimates(
    labels: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Distance-oracle query path over :func:`landmark_labels`: for each
    (u, w) row in ``pairs``, est = min over landmarks of
    d_to(u, l) + d_from(l, w); pairs with no common landmark are
    dropped (unreachable within the index's budget).  Two equi-joins
    against the linear-size label table — no traversal at query time."""
    ul = labels.where(F.col("d_to") >= 0).select(
        F.col("id").alias("u"), "landmark", F.col("d_to").alias("du")
    )
    wl = labels.where(F.col("d_from") >= 0).select(
        F.col("id").alias("w"), "landmark", F.col("d_from").alias("dw")
    )
    return (
        pairs.join(ul, "u")
        .join(wl, ["landmark", "w"])
        .groupBy("u", "w")
        .agg(F.min(F.col("du") + F.col("dw")).cast("int").alias("dist_est"))
    )
