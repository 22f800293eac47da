"""Weisfeiler–Leman color refinement (hashed-WL, commutative form).

WL color refinement (Weisfeiler & Leman 1968; Shervashidze et al.
JMLR'11, "Weisfeiler-Lehman graph kernels"): every vertex starts with
its degree as color_0; each round a vertex's new color is a hash of
(its own color, the multiset of its neighbors' colors).  After k
rounds the color partition captures k-hop structural roles — the
canonical structural-fingerprint / role-discovery primitive, and the
expressiveness ceiling of message-passing GNNs.  It generalizes the
one-level degree/co-citation structure GraphJet's intersection
similarity reads (reference graphjet-core/src/main/java/com/twitter/
graphjet/algorithms/intersection/IntersectionSimilarity.java:128-176)
to iterated whole-graph structure.

Multiset hashing here is COMMUTATIVE — per-neighbor color hashes
(md5-prefix BIGINT mod 2^31) are SUMmed and counted, then folded with
the vertex's own color into the next md5.  That turns the per-vertex
gather into one map-side-combinable SUM/COUNT aggregation: no
collect_list, no sorted neighbor strings, no hub-sized rows — the only
WL form that survives a 10%-of-all-edges mega-hub at 100 TB.  (The
sum-hash admits engineered collisions a sorted-multiset hash would
not; for corpus-scale role discovery the ~2^-31 accidental-collision
rate per class is the standard trade — this is the "hash-WL" used by
scalable WL-kernel implementations.)

The hash is the cross-engine md5-prefix-as-BIGINT (the repo's one
engine-neutral hash), so the refinement is a pure function of the
graph and the round budget, and the gate VALUE-compares per-vertex
colors against an unrolled DuckDB twin (oracles.wl_refinement_sql).

Scale shape per round: the loop runs on
:class:`~graphjet_spark.plans.superstep.SuperstepRunner`.  State is
``(id, c, hc)`` — the color and its per-neighbor contribution hash,
computed once per vertex — co-partitioned with the symmetrized edges
(laid out by the gather key once, before the loop), so a round is one
exchange (the map-side-combined SUM/COUNT) and one Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.functions.hashing import md5_prefix_bigint as _h
from graphjet_spark.plans.components import gather_table
from graphjet_spark.plans.superstep import SuperstepRunner

# modulus for per-neighbor contributions: keeps SUM over any real
# in-degree (< 2^32 neighbors) inside BIGINT without overflow
_MOD = 2_147_483_647


def wl_colors(
    spark: SparkSession,
    edges: DataFrame,
    *,
    rounds: int = 3,
) -> DataFrame:
    """``(id, wl_color, class_size)`` after ``rounds`` WL refinements
    over the symmetrized simple graph (self-loops dropped, matching
    the other undirected plans).  ``wl_color`` is the hashed color;
    ``class_size`` is its structural-role class population."""
    def hashed(c: DataFrame) -> DataFrame:
        """``c`` with its per-neighbor contribution ``hc``."""
        return c.withColumn(
            "hc", _h(F.concat(F.lit("wl:"), F.col("c").cast("string"))) % F.lit(_MOD)
        )

    with SuperstepRunner(spark, "wl_colors") as run:
        sym = gather_table(run, edges)

        def initial() -> DataFrame:
            e = run.adopt(edges)
            vertices = (
                e.select(F.col("src").alias("id"))
                .unionByName(e.select(F.col("dst").alias("id")))
                .distinct()
            )
            deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
            return run.layout(
                hashed(
                    vertices.join(deg, vertices.id == deg.a, "left").select(
                        "id", F.coalesce(F.col("d"), F.lit(0)).cast("bigint").alias("c")
                    )
                )
            )

        def step(st: DataFrame, _sc: dict) -> DataFrame:
            gath = (
                sym.join(st, sym.b == st.id)
                .groupBy("a")
                .agg(
                    F.sum("hc").alias("s"),
                    F.count(F.lit(1)).cast("bigint").alias("n"),
                )
            )
            return hashed(
                st.join(gath, st.id == gath.a, "left").select(
                    "id",
                    _h(
                        F.concat(
                            F.lit("wl:"),
                            F.col("c").cast("string"),
                            F.lit(":"),
                            F.coalesce(F.col("s"), F.lit(0)).cast("string"),
                            F.lit(":"),
                            F.coalesce(F.col("n"), F.lit(0)).cast("string"),
                        )
                    ).alias("c"),
                )
            )

        lab = run.run(initial, step, iters=rounds, keep=["id", "c", "hc"])
        classes = lab.groupBy("c").agg(
            F.count(F.lit(1)).cast("bigint").alias("class_size")
        )
        out = lab.join(classes, "c").select(
            "id", F.col("c").alias("wl_color"), "class_size"
        )
        return run.export(out)
