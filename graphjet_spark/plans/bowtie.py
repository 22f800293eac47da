"""Broder bow-tie decomposition of a directed link graph.

Broder et al., "Graph structure in the Web" (WWW/Computer Networks
2000): the canonical macro-map of a web crawl — a strongly connected
CORE, the IN set that reaches it, the OUT set it reaches, TUBEs that
bypass it from IN to OUT, TENDRILs hanging off IN or into OUT, and
DISConnected debris.  This is the first structural report run on any
new crawl snapshot, and the directed complement of the engine's
undirected component census (plans/components.py).

Pivot form (fully value-oracle-able): the core is anchored at a
deterministic pivot — the maximum-total-degree vertex, ties to the
smallest id (on a web graph the top hub is in the giant SCC with
overwhelming probability; the Tarjan-mirror pytest checks the pivot
landed in the largest SCC on the gate graph).  Then

    CORE = FW(pivot) ∩ BW(pivot)
    IN   = BW(pivot) \\ CORE          (reaches the core)
    OUT  = FW(pivot) \\ CORE          (reached from the core)
    TUBE/TENDRIL/DISC from core-blocked sweeps: forward from IN and
    backward from OUT, never expanding through the core — a vertex on
    both sweeps is a TUBE (an IN->OUT bypass), on one a TENDRIL, on
    neither DISC.

Everything is four frontier-BFS superstep loops over the same two edge
relations, laid out once by
:meth:`~graphjet_spark.plans.superstep.SuperstepRunner.layout_edges` and
released when the runner exits (also on error): work per round is
frontier-sized, new-vertex discovery only, with an early exit when a
sweep saturates.  ``fixed_iters`` bounds each sweep's depth — both
engines compute identical sets at any budget (saturated or not), which
is what makes the unrolled DuckDB twin (oracles.bowtie_sql) an exact
value oracle.

The sweeps keep this loop: on the runner's min-plus step (BFS, SSSP,
CC) ``bowtie_classes`` ran 59 jobs instead of 144 but took 17.2 s warm
instead of 12.4 (sf0.01, 4 vCPUs) — the runner's fixed cost per
superstep dominates these many short supersteps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.superstep import SuperstepRunner


def _reach(
    e: DataFrame,
    seeds: DataFrame,
    rounds: int,
    blocked: DataFrame | None = None,
) -> DataFrame:
    """Vertices reachable from ``seeds`` following ``e`` (src -> dst)
    in <= ``rounds`` hops, never entering ``blocked``.  Frontier-sized
    supersteps with lineage truncation per round.  Callers pass seeds
    already materialized (checkpointed or tiny), so no redundant
    checkpoint here."""
    reach = seeds
    frontier = reach
    for _ in range(rounds):
        nxt = (
            e.join(frontier, e.src == frontier.id)
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        new = nxt.join(reach, "id", "left_anti")
        if blocked is not None:
            new = new.join(blocked, "id", "left_anti")
        new = new.localCheckpoint(eager=True)
        if not new.take(1):  # saturated: rounds beyond this are no-ops
            break
        reach = reach.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    return reach


def bowtie_decomposition(
    spark: SparkSession,
    edges: DataFrame,
    *,
    fixed_iters: int = 12,
) -> DataFrame:
    """``(id, bowtie_class)`` over the distinct directed edge set,
    classes in {CORE, IN, OUT, TUBE, TENDRIL, DISC}."""
    with SuperstepRunner(spark, "bowtie_decomposition") as run:
        e = run.layout_edges(edges.select("src", "dst").distinct(), "src")
        rev = run.layout_edges(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")), "src"
        )
        vertices = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
            .localCheckpoint(eager=True)
        )

        # deterministic pivot: max total degree, ties to the smallest id
        deg = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        top = deg.orderBy(F.desc("deg"), F.asc("id")).first()
        if top is None:  # empty edge table: no vertices, empty map
            return spark.createDataFrame([], "id bigint, bowtie_class string")
        seed = spark.createDataFrame([(int(top["id"]),)], "id bigint")

        fw = _reach(e, seed, fixed_iters)
        bw = _reach(rev, seed, fixed_iters)
        core = fw.join(bw, "id", "semi").localCheckpoint(eager=True)
        ins = bw.join(core, "id", "left_anti").localCheckpoint(eager=True)
        outs = fw.join(core, "id", "left_anti").localCheckpoint(eager=True)

        # core-blocked sweeps: forward from IN, backward from OUT
        fw_in = _reach(e, ins, fixed_iters, blocked=core)
        bw_out = _reach(rev, outs, fixed_iters, blocked=core)

        return (
            vertices.join(core.withColumn("c", F.lit(1)), "id", "left")
            .join(ins.withColumn("i", F.lit(1)), "id", "left")
            .join(outs.withColumn("o", F.lit(1)), "id", "left")
            .join(fw_in.withColumn("fi", F.lit(1)), "id", "left")
            .join(bw_out.withColumn("bo", F.lit(1)), "id", "left")
            .select(
                "id",
                F.when(F.col("c").isNotNull(), F.lit("CORE"))
                .when(F.col("i").isNotNull(), F.lit("IN"))
                .when(F.col("o").isNotNull(), F.lit("OUT"))
                .when(
                    F.col("fi").isNotNull() & F.col("bo").isNotNull(),
                    F.lit("TUBE"),
                )
                .when(
                    F.col("fi").isNotNull() | F.col("bo").isNotNull(),
                    F.lit("TENDRIL"),
                )
                .otherwise(F.lit("DISC"))
                .alias("bowtie_class"),
            )
        )
