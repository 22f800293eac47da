"""Approximate neighborhood function over a DataFrame edge table
(ANF — Palmer/Gibbons/Faloutsos KDD'02; the HyperANF refinement is
Boldi/Rosa/Vigna WWW'11).  N(t) = number of (u, v) pairs with
dist(u -> v) <= t: THE web-graph statistic exact BFS cannot give at
10^12 nodes (it is all-pairs), and the route to effective-diameter /
connectivity readouts on Common-Crawl-scale link graphs.

Each vertex carries ``r`` Flajolet-Martin bit sketches (one BIGINT
each).  A superstep is one join + one ``bit_or`` aggregation:

    M_t(v) = M_{t-1}(v) | OR over (v,w) in E of M_{t-1}(w)

so after t supersteps M_t(v) sketches the set of vertices reachable
from v within t hops.  Everything is integer bit arithmetic inside
whole-stage codegen — no floats in the distributed part, no Python.

Scale design: the loop runs on
:class:`~graphjet_spark.plans.superstep.SuperstepRunner`.  State is
``(id, m0..m{r-1}, hs)`` — |V| x r BIGINTs (a few bytes per vertex, the
whole point of sketching) plus ``hs``, the vertex's sketch sum after
each hop so far; the edge side is laid out by the gather key once and
cached, so the one exchange per superstep is the ``bit_or``
aggregation, whose map-side partial combine collapses a mega-hub's
in-neighborhood to one partial row per map task.  The histogram is one
``posexplode(hs)`` aggregation at the end, and resume is the runner's:
the committed state carries every earlier hop's sketch sums.

Determinism / correctness gate: the sketch hash is the cross-engine
md5-prefix integer (the one hash both Spark and DuckDB compute
bit-identically), so this *approximate* algorithm is a pure function
of the graph and is VALUE-oracled: the gate output is the exact
integer histogram of per-vertex sketch sums per hop — no float
tolerance anywhere.  :func:`neighborhood_function` folds the tiny
histogram into the familiar N(t) curve.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.checkpoints import CheckpointManager
from graphjet_spark.plans.superstep import SuperstepRunner

# P(first 1-bit at position k) = 2^-(k+1); E[2^R] ~ n / PHI
ANF_PHI = 0.77351


def _mask_expr(j: int) -> str:
    """BIGINT FM mask for sketch ``j``: 1 << (trailing zeros of the
    md5-prefix hash of "id:j", clamped to 60).  ``h & -h`` isolates the
    lowest set bit; ``bit_count(x - 1)`` counts the zeros below it."""
    h = f"cast(conv(substr(md5(concat(cast(id as string), ':', '{j}')),1,15),16,10) as bigint)"
    tz = f"least(60, case when {h} = 0 then 60 else bit_count(({h} & -{h}) - 1) end)"
    return f"shiftleft(1L, {tz})"


def anf_sketch_histogram(
    spark: SparkSession,
    edges: DataFrame,
    *,
    r: int = 8,
    iters: int = 5,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """Run ``iters`` ANF supersteps with ``r`` FM sketches per vertex;
    return the exact integer histogram ``(t, sketch_sum, cnt)`` where
    ``sketch_sum`` = sum over the r sketches of the lowest-zero-bit
    index of M_t(v) (the FM estimator's sufficient statistic).

    With ``checkpoint``, every superstep's state commits atomically
    (iteration t = state after t hops) with its metrics, and an
    interrupted run resumes from the last committed hop; the committed
    ``hs`` holds the earlier hops' sketch sums, so the resumed output is
    identical to an uninterrupted run (the sketches are a pure function
    of the graph)."""
    mcols = [f"m{j}" for j in range(r)]
    # lowest ZERO bit index b: m ^ (m+1) = 2^(b+1) - 1, bit_count = b+1
    sketch_sum = F.array(
        F.expr(
            "cast("
            + " + ".join(f"(bit_count({c} ^ ({c} + 1L)) - 1)" for c in mcols)
            + " as int)"
        )
    )
    with SuperstepRunner(spark, "anf", checkpoint=checkpoint) as run:
        # gather along out-edges: src collects dst sketches
        e = run.layout_edges(run.adopt(edges).select("src", "dst").distinct(), "dst")

        def initial() -> DataFrame:
            ids = (
                e.select(F.col("src").alias("id"))
                .union(e.select(F.col("dst").alias("id")))
                .distinct()
            )
            masks = [F.expr(_mask_expr(j)).alias(c) for j, c in enumerate(mcols)]
            return run.layout(
                ids.select("id", *masks).withColumn("hs", sketch_sum)
            )

        def step(st: DataFrame, _sc: dict) -> DataFrame:
            g = (
                e.join(st, e.dst == st.id)
                .groupBy("src")
                .agg(*[F.expr(f"bit_or({c})").alias(f"n{c}") for c in mcols])
            )
            return (
                st.join(g, F.col("id") == g.src, "left")
                .select(
                    "id",
                    *[
                        F.col(c).bitwiseOR(F.coalesce(F.col(f"n{c}"), F.lit(0))).alias(c)
                        for c in mcols
                    ],
                    "hs",
                )
                .withColumn("hs", F.concat("hs", sketch_sum))
            )

        st = run.run(initial, step, iters=iters, keep=["id", *mcols, "hs"])
        return run.export(
            st.select(F.posexplode("hs").alias("t", "sketch_sum"))
            .groupBy("t", "sketch_sum")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )


def neighborhood_function(hist: DataFrame, *, r: int = 8) -> DataFrame:
    """Fold the exact sketch histogram into the N(t) curve:
    per-vertex estimate 2^(sketch_sum / r) / PHI, summed per hop.
    The fold runs over the tiny (t, sketch_sum) table, never the
    graph."""
    return (
        hist.groupBy("t")
        .agg(
            F.sum(
                F.col("cnt")
                * F.pow(F.lit(2.0), F.col("sketch_sum") / F.lit(float(r)))
                / F.lit(ANF_PHI)
            ).alias("nf_est")
        )
    )


def effective_diameter(
    hist: DataFrame, *, r: int = 8, q: float = 0.9, round_to: int = 6
) -> DataFrame:
    """One row (t90, eff_diameter) — the q-effective diameter read off
    the ANF neighborhood curve (Palmer et al. KDD'02): the smallest hop
    t with N(t) >= q * N(t_max), linearly interpolated between t-1 and
    t (the standard hop-plot statistic; 0.0 when the first hop already
    qualifies).  Folds only the tiny (t, nf_est) curve — every window
    here runs over <= iters+1 rows."""
    from pyspark.sql import Window

    nf = neighborhood_function(hist, r=r)
    mx = nf.agg(F.max("nf_est").alias("m"))
    s = (
        nf.crossJoin(F.broadcast(mx))
        .withColumn("pnf", F.lag("nf_est").over(Window.orderBy("t")))
        .where(F.col("nf_est") >= F.lit(q) * F.col("m"))
        .orderBy("t")
        .limit(1)
    )
    return s.select(
        F.col("t").cast("int").alias("t90"),
        F.round(
            F.when(F.col("pnf").isNull(), F.lit(0.0)).otherwise(
                (F.col("t") - 1).cast("double")
                + (F.lit(q) * F.col("m") - F.col("pnf"))
                / (F.col("nf_est") - F.col("pnf"))
            ),
            round_to,
        ).alias("eff_diameter"),
    )
