"""HITS (hubs and authorities) by fixed-point iteration.

Kleinberg's HITS is SALSA's direct ancestor — SALSA is exactly HITS
with the adjacency matrix row/column-normalized (Lempel & Moran 2000),
so a link-graph engine shipping SALSA owes its users HITS too.  One
superstep: authority(v) = sum of hub scores over in-edges, then hub(u)
= sum of authority scores over out-edges.

Normalization is deferred to the very end (one L1 scaling of each
vector): every step is linear, so scaling commutes with iteration and
the final unit-sum vectors are identical to per-step normalization in
exact arithmetic.  Raw magnitudes stay far inside float64 range for any
realistic iteration budget (growth per double-step is bounded by
max-degree²).

Runs on :class:`~graphjet_spark.plans.superstep.SuperstepRunner` with
``(id, h, hp)`` state (``hp`` = the previous hub vector) and one cached
edge layout per gather direction — the authority gather joins on
``src``, the hub gather on ``dst`` — so a superstep is one Spark job
with exactly two exchanges, the two sums.  The authority vector never
enters the state: a_k = A^T h_{k-1} is one final gather over ``hp``,
whose action also returns both normalization totals.  ``fixed_iters``
is the oracle-parity mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.superstep import SuperstepRunner


def hits(
    spark: SparkSession,
    edges: DataFrame,
    *,
    fixed_iters: int = 10,
) -> DataFrame:
    """Returns (id, hub, authority) after exactly ``fixed_iters``
    double-steps over the distinct edge set, each vector L1-normalized
    once at the end."""
    with SuperstepRunner(spark, "hits") as run:
        ded = run.adopt(edges).select("src", "dst").distinct()
        by_src, by_dst = run.layout_edges(ded, "src"), run.layout_edges(ded, "dst")

        def gather(e: DataFrame, key: str, to: str, st: DataFrame, col: str):
            """``(id, s)``: the sum of ``st[col]`` over ``e[key] = st.id``,
            keyed by ``e[to]`` (absent rows are implicit zeros)."""
            return (
                e.join(st, e[key] == st.id)
                .groupBy(e[to].alias("id"))
                .agg(F.sum(col).alias("s"))
            )

        def step(st: DataFrame, _sc: dict) -> DataFrame:
            # authority gathers hub mass along in-edges, then hub gathers
            # authority mass along out-edges: ``auth`` is referenced once,
            # since a second reference would compute it twice
            auth = gather(by_src, "src", "dst", st, "h")
            hub = gather(by_dst, "dst", "src", auth, "s")
            return st.join(hub, "id", "left").select(
                "id", F.coalesce("s", F.lit(0.0)).alias("h"), F.col("h").alias("hp")
            )

        st = run.run(
            lambda: run.layout(
                ded.select(F.col("src").alias("id"))
                .union(ded.select(F.col("dst").alias("id")))
                .distinct()
                .select("id", F.lit(1.0).alias("h"), F.lit(0.0).alias("hp"))
            ),
            step,
            iters=fixed_iters,
            keep=["id", "h", "hp"],
        )
        auth = gather(by_src, "src", "dst", st, "hp")
        out, tot = run.materialize(
            st.join(auth, "id", "left").select(
                "id", "h", F.coalesce("s", F.lit(0.0)).alias("a")
            ),
            {"ht": (F.sum("h"), sum), "at": (F.sum("a"), sum)},
        )
        # the totals are zero only on an empty graph: no rows to divide
        return run.export(
            out.select(
                "id",
                (F.col("h") / F.lit(float(tot["ht"]))).alias("hub"),
                (F.col("a") / F.lit(float(tot["at"]))).alias("authority"),
            )
        )
