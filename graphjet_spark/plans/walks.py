"""Deterministic hash-walk corpus generation (DeepWalk-style input).

Generates one fixed-length random walk per start vertex, where step i
of walk w picks neighbor index ``H(w, i) mod out_degree`` with H the
cross-engine md5-prefix hash over the sorted adjacency list.  The walk
distribution matches uniform neighbor sampling (H is uniform over its
60-bit range), but the corpus is a pure function of the graph — no RNG
state, no partitioning dependence, byte-identical on any engine — so
the gate can value-compare it against a DuckDB oracle, unlike seeded-
RNG walk generators (salsa_montecarlo) which are rows-only by nature.

This is the walk-corpus producer feeding skip-gram node-embedding
training (DeepWalk, Perozzi 2014; GraphJet's own per-walk machinery is
the Monte-Carlo SALSA family, plans/salsa.py — this is its
batch-corpus cousin).

Scale: the adjacency-list table (src, nbrs) is built once (the same
collect_list shape as adjacency_blocks) and each step is one equi-join
of the narrow walk frontier against it; walks at sinks simply stop.
The walk builders keep their own loops but take their cached tables
and partition count from a
:class:`~graphjet_spark.plans.superstep.SuperstepRunner`, which
releases the tables when the loop ends, also on error; the corpus they
return reads only the per-step checkpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.functions.hashing import md5_prefix_bigint
from graphjet_spark.plans.superstep import SuperstepRunner


def _step_hash(walk_col: str, step: int):
    """Cross-engine uniform 60-bit hash of (walk_id, step)."""
    s = F.concat(
        F.col(walk_col).cast("string"), F.lit(":"), F.lit(str(step))
    )
    return md5_prefix_bigint(s)


def _sorted_adjacency(run: SuperstepRunner, e: DataFrame) -> DataFrame:
    """(src, nbrs) with ``nbrs`` the sorted out-neighbor array, cached by
    ``run`` until it exits."""
    return run.cache(
        e.groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
        .repartition(run.p, "src")
    )


def _hash_step(frontier: DataFrame, adj: DataFrame, step: int) -> DataFrame:
    """Advance every walk ``(walk_id, vertex)`` one hashed step; walks at
    sinks stop."""
    pick = (F.pmod(_step_hash("walk_id", step), F.size("nbrs")) + 1).cast("int")
    return (
        frontier.join(adj, frontier.vertex == adj.src)
        .select("walk_id", F.element_at("nbrs", pick).alias("vertex"))
        .localCheckpoint(eager=True)
    )


def hash_walk_corpus(
    spark: SparkSession,
    edges: DataFrame,
    *,
    length: int = 4,
) -> DataFrame:
    """(walk_id, step, vertex) — one ``length``-step walk per vertex
    with out-edges; step 0 is the start vertex, walks stop at sinks."""
    with SuperstepRunner(spark, "hash_walk_corpus") as run:
        adj = _sorted_adjacency(run, edges.select("src", "dst").distinct())
        frontier = adj.select(
            F.col("src").alias("walk_id"), F.col("src").alias("vertex")
        ).localCheckpoint(eager=True)
        out = [frontier.select("walk_id", F.lit(0).alias("step"), "vertex")]

        for i in range(1, length + 1):
            frontier = _hash_step(frontier, adj, i)
            out.append(frontier.select("walk_id", F.lit(i).alias("step"), "vertex"))

    result = out[0]
    for df in out[1:]:
        result = result.unionByName(df)
    return result


def skipgram_pairs(
    corpus: DataFrame, *, window: int = 2
) -> DataFrame:
    """(center, context, cnt) — skip-gram training pairs from a walk
    corpus: co-occurrences within ``window`` steps on the same walk
    (the (node, context) rows a word2vec/DeepWalk trainer consumes).
    One self-equi-join on walk_id with a banded step predicate — the
    band keeps the join linear in corpus size times window."""
    a = corpus.select(
        F.col("walk_id").alias("w"),
        F.col("step").alias("si"),
        F.col("vertex").alias("center"),
    )
    b = corpus.select(
        F.col("walk_id").alias("w2"),
        F.col("step").alias("sj"),
        F.col("vertex").alias("context"),
    )
    joined = a.join(
        b,
        (F.col("w") == F.col("w2"))
        & (F.col("si") != F.col("sj"))
        & (F.abs(F.col("si") - F.col("sj")) <= window),
    )
    return joined.groupBy("center", "context").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


def node2vec_walk_corpus(
    spark: SparkSession,
    edges: DataFrame,
    *,
    length: int = 4,
    w_return: int = 1,
    w_neighbor: int = 2,
    w_far: int = 4,
) -> DataFrame:
    """(walk_id, step, vertex) — second-order biased walks (node2vec,
    Grover & Leskovec KDD'16) in the same deterministic-hash form as
    :func:`hash_walk_corpus`: candidate j among cur's sorted neighbors
    gets INTEGER weight ``w_return`` if it is the previous vertex,
    ``w_neighbor`` if it is also an out-neighbor of the previous vertex
    (distance 1), else ``w_far`` (distance 2) — the integer form of
    node2vec's 1/p, 1, 1/q (e.g. p=2, q=0.5 -> 1, 2, 4).  The step picks
    the candidate whose exact integer cumulative-weight interval
    contains H(walk, i) mod total_weight, so the corpus is a pure
    function of the graph and value-comparable across engines — no
    float cumsum, no RNG state.

    Step 1 has no previous vertex and uses the first-order uniform-hash
    rule (same as hash_walk_corpus).  Walks stop at sinks.

    Scale shape per step: one equi-join of the walk frontier against
    the positioned adjacency (fan-out = out-degree), one equi-join
    against the edge set for the distance-1 mark, and two window
    functions partitioned per walk (tiny per-walk groups).  The
    positioned adjacency and edge tables build once and stay cached
    across all steps."""
    from pyspark.sql import Window

    with SuperstepRunner(spark, "node2vec_walk_corpus") as run:
        e = run.layout_edges(edges.select("src", "dst").distinct(), "src")
        adjpos = run.cache(
            e.select(
                "src",
                F.col("dst").alias("x"),
                F.row_number()
                .over(Window.partitionBy("src").orderBy("dst"))
                .alias("pos"),
            ).repartition(run.p, "src")
        )
        deg = adjpos.groupBy("src").agg(F.max("pos").alias("d"))
        e.count(), adjpos.count()

        starts = adjpos.select("src").distinct()
        # step 1: first-order uniform hash over the sorted adjacency
        f1 = (
            starts.join(deg, "src")
            .select(
                F.col("src").alias("walk_id"),
                F.col("src").alias("prev"),
                (F.pmod(_step_hash("src", 1), F.col("d")) + 1).alias("pick"),
            )
            .join(
                adjpos,
                (F.col("prev") == adjpos.src) & (F.col("pick") == adjpos.pos),
            )
            .select("walk_id", "prev", F.col("x").alias("vertex"))
            .localCheckpoint(eager=True)
        )
        # every start has an out-edge, so it makes exactly one step-1 row;
        # step 0 comes from f1, so the result reads no cached relation
        out = [
            f1.select("walk_id", F.lit(0).alias("step"), F.col("walk_id").alias("vertex")),
            f1.select("walk_id", F.lit(1).alias("step"), "vertex"),
        ]

        frontier = f1  # (walk_id, prev, vertex)
        prev_edge = e.select(
            F.col("src").alias("p2"), F.col("dst").alias("x2")
        )
        ww = Window.partitionBy("walk_id")
        wcum = Window.partitionBy("walk_id").orderBy("pos")
        for i in range(2, length + 1):
            cand = (
                frontier.join(adjpos, frontier.vertex == adjpos.src)
                .join(
                    prev_edge,
                    (F.col("prev") == F.col("p2")) & (F.col("x") == F.col("x2")),
                    "left",
                )
                .select(
                    "walk_id",
                    "prev",
                    F.col("vertex").alias("cur"),
                    "pos",
                    "x",
                    F.when(F.col("x") == F.col("prev"), F.lit(w_return))
                    .when(F.col("p2").isNotNull(), F.lit(w_neighbor))
                    .otherwise(F.lit(w_far))
                    .cast("bigint")
                    .alias("w"),
                )
            )
            picked = (
                cand.withColumn("tot", F.sum("w").over(ww))
                .withColumn("cum", F.sum("w").over(wcum))
                .where(
                    (F.col("cum") - F.col("w"))
                    <= F.pmod(_step_hash("walk_id", i), F.col("tot"))
                )
                .where(
                    F.pmod(_step_hash("walk_id", i), F.col("tot")) < F.col("cum")
                )
                .select(
                    "walk_id",
                    F.col("cur").alias("prev"),
                    F.col("x").alias("vertex"),
                )
                .localCheckpoint(eager=True)
            )
            out.append(
                picked.select("walk_id", F.lit(i).alias("step"), "vertex")
            )
            frontier = picked

    result = out[0]
    for df in out[1:]:
        result = result.unionByName(df)
    return result


def walk_sample_subgraph(
    spark: SparkSession,
    edges: DataFrame,
    *,
    length: int = 4,
    seed_pct: int = 5,
) -> DataFrame:
    """``(src, dst)`` — random-walk graph sampling (Leskovec &
    Faloutsos KDD'06: RW samples preserve degree/clustering shape far
    better than uniform edge samples) in the repo's rng-free form:
    walks of ``length`` steps start from the ~``seed_pct``% of
    out-edge vertices whose md5 lands under the threshold, and the
    sample is the subgraph INDUCED by the visited set (both endpoints
    visited).  A pure function of the graph — fully value-oracled —
    and the subgraph-extraction primitive for downstream
    experimentation at a fraction of the corpus.

    Scale shape: the walk loop is frontier-sized supersteps over the
    once-built sorted adjacency; the induced-edge step is two
    semi-joins of the edge table against the (small) visited set."""
    # eager checkpoint, not run.cache: e outlives the runner inside the
    # returned lazy plan, which must read no relation the runner releases
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    with SuperstepRunner(spark, "walk_sample_subgraph") as run:
        adj = _sorted_adjacency(run, e)
        seed_h = md5_prefix_bigint(
            F.concat(F.lit("smp:"), F.col("src").cast("string"))
        )
        frontier = (
            adj.where(F.pmod(seed_h, F.lit(100)) < F.lit(seed_pct))
            .select(F.col("src").alias("walk_id"), F.col("src").alias("vertex"))
            .localCheckpoint(eager=True)
        )
        visited = frontier.select("vertex").distinct().localCheckpoint(eager=True)
        for i in range(1, length + 1):
            frontier = _hash_step(frontier, adj, i)
            visited = (
                visited.unionByName(frontier.select("vertex"))
                .distinct()
                .localCheckpoint(eager=True)
            )
    va = visited.withColumnRenamed("vertex", "src")
    vb = visited.withColumnRenamed("vertex", "dst")
    return e.join(va, "src", "semi").join(vb, "dst", "semi").select("src", "dst")
