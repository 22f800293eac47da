"""k-truss decomposition by iterative edge peeling.

The k-truss is the maximal subgraph where every edge participates in at
least k-2 triangles *within the subgraph* (Cohen 2008) — the edge-level
sharpening of the k-core (plans/kcore.py) and the standard dense-
community primitive on web/social graphs.

Each peel round enumerates triangles over the surviving edge set with
the triangle kernel of plans/triangles.py (``closing_neighbors`` over
the degree-ordered ``orient``: out-degree bounded by O(sqrt m), so
intersection work stays polynomial on power-law graphs and no wedge
relation is materialized), credits
each triangle to its three edges, and drops edges below the support
threshold.  A round's triangle triples are cached by a
:class:`~graphjet_spark.plans.superstep.SuperstepRunner` (which also
gives the partition count) and released at the end of that round, or by
the runner if the round raises.  ``fixed_iters`` rounds make the unrolled
DuckDB oracle exact; the peeling is monotone, so extra rounds after the
fixpoint are no-ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.superstep import SuperstepRunner
from graphjet_spark.plans.triangles import closing_neighbors, orient, undirected


def k_truss(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    *,
    fixed_iters: int = 4,
) -> DataFrame:
    """Returns the surviving undirected edges (a, b), a < b, after
    ``fixed_iters`` peel rounds at support threshold k-2."""
    with SuperstepRunner(spark, "k_truss") as run:
        surv = undirected(edges).repartition(run.p, "a").localCheckpoint(eager=True)
        thresh = k - 2

        for _ in range(fixed_iters):
            # Triangle triples (x, y, z) materialized ONCE — narrow rows,
            # consumed three times by the per-edge credit union below
            # (unioning straight off the join would recompute the whole
            # adjacency-intersection three times).
            tri = run.cache(
                closing_neighbors(orient(surv)).select("x", "y", F.explode("zs").alias("z"))
            )
            tri.count()
            credits = [
                tri.select(F.least(p, q).alias("a"), F.greatest(p, q).alias("b"))
                for p, q in (("x", "y"), ("y", "z"), ("x", "z"))
            ]
            support = (
                credits[0]
                .unionAll(credits[1])
                .unionAll(credits[2])
                .groupBy("a", "b")
                .agg(F.count(F.lit(1)).alias("sup"))
            )
            surv = (
                surv.join(support, ["a", "b"])
                .where(F.col("sup") >= thresh)
                .select("a", "b")
                .localCheckpoint(eager=True)
            )
            # one round's triples never live into the next
            tri.unpersist()

        return surv
