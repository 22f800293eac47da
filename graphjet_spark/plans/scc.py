"""Strongly connected components over a directed DataFrame edge table
— the Broder et al. WWW'00 "bowtie" decomposition statistic of web
link graphs (SCC/IN/OUT), i.e. THE classic Common-Crawl-scale directed
analysis.  GraphJet itself never needs SCC (bipartite engagement has no
directed cycles); this is a beyond-reference link-graph operator.

Algorithm: Trim + forward-min coloring + same-color backward sweep
(the Pregel/FW-BW family: Fleischer/Hendrickson/Pinar IPDPS'00 divide
& conquer, Salihoglu/Widom's Pregel formulation).  Per outer round:

1. **Trim**: peel vertices with zero in- or out-degree within the
   remaining subgraph — each is a singleton SCC.  Web-ish graphs are
   DAG-dominated, so trim alone consumes most of the mass.
2. **Color**: propagate ``color(v) = min(id over v and its remaining
   ancestors)`` to fixpoint (hash-min along edge direction — the same
   superstep shape and hygiene as connected components).
3. **Backward sweep**: the SCC of each color root r = vertices of
   color r that can reach r through same-color vertices; grown as a
   reverse-BFS fixpoint.  color(v) = min reachable-ancestor id, so for
   captured members the label IS the SCC's min vertex id.
4. Remove captured SCCs; repeat.  The minimum remaining vertex is
   always a root, so every round captures at least one SCC.

One outer round is one superstep of
:class:`~graphjet_spark.plans.superstep.SuperstepRunner`.  Its state is
``(id, scc, final)`` over every vertex: ``final=1`` once the vertex's
SCC is captured, else ``final=0`` and ``scc = id``; the loop stops when
no vertex is left at ``final=0``.  The trim, coloring and backward
sweep fixpoints run inside the step over the narrow ``(id, color)``
relation and the remaining edges, partitioned once per round;
min-aggregations get map-side combine.  Output ``(id, scc)`` with
``scc`` = min vertex id of the component (matching the CC label
convention, property-tested vs a literal Tarjan mirror).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.checkpoints import CheckpointManager
from graphjet_spark.plans.superstep import SuperstepRunner


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_rounds: int = 30,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """Returns ``(id, scc)`` with one row per vertex; ``scc`` = min
    vertex id in the SCC.  Vertices still unresolved after
    ``max_rounds`` outer rounds keep their own id (as unconverged
    hash-min CC labels do).

    With ``checkpoint``, each outer round commits the state table with
    per-partition lineage rows, and a resumed run continues from the
    last committed round (the decomposition is deterministic, so the
    result is identical to an uninterrupted run — resume-equality
    tested)."""
    remaining_agg = {"remaining": (F.count_if(F.col("final") == 0), sum)}
    with SuperstepRunner(spark, "scc", checkpoint=checkpoint) as run:
        e = run.layout_edges(
            run.adopt(edges)
            .select("src", "dst")
            .where(F.col("src") != F.col("dst"))
            .distinct(),
            "src",
        )

        def initial() -> DataFrame:
            # vertices appearing only in self-loops are trimmed as
            # singleton SCCs in the first round
            raw = run.adopt(edges)
            ids = (
                raw.select(F.col("src").alias("id"))
                .union(raw.select(F.col("dst").alias("id")))
                .distinct()
            )
            return run.layout(
                ids.select("id", F.col("id").alias("scc"), F.lit(0).alias("final"))
            )

        def step(st: DataFrame, sc: dict) -> DataFrame:
            if sc["remaining"] == 0:
                return st
            captured = _round(run, e, st.where(F.col("final") == 0).select("id"))
            return st.join(captured.withColumnRenamed("scc", "cap"), "id", "left").select(
                "id",
                F.coalesce("cap", "scc").alias("scc"),
                F.when(F.col("cap").isNotNull(), F.lit(1))
                .otherwise(F.col("final"))
                .alias("final"),
            )

        st = run.run(
            initial,
            step,
            iters=max_rounds,
            keep=["id", "scc", "final"],
            aggs=remaining_agg,
            start_aggs=remaining_agg,
            done=lambda s, _: s["remaining"] == 0,
        )
        return run.export(st.select("id", "scc"))


def _round(run: SuperstepRunner, e: DataFrame, remaining: DataFrame) -> DataFrame:
    """One outer round over the ``remaining`` vertices: the ``(id, scc)``
    rows of every SCC it captures (at least the one holding the minimum
    remaining vertex)."""
    er = (
        e.join(remaining.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(remaining.withColumnRenamed("id", "dst"), "dst", "left_semi")
        .localCheckpoint(eager=True)
    )
    captured = []

    # --- 1. trim TO FIXPOINT: zero in-/out-degree => singleton ---
    # DAG-dominated web graphs shed most mass here; peeling all
    # layers inside one outer round avoids rebuilding + re-sorting
    # the edge table once per layer (the sort is deferred to the
    # coloring phase below, which is the only SMJ consumer)
    while True:
        # vertices with BOTH an out- and an in-edge, in ONE shuffle
        # (map-side-combined max flags) instead of two distincts +
        # a semi join
        both = (
            er.select(
                F.col("src").alias("id"),
                F.lit(1).alias("s"),
                F.lit(0).alias("d"),
            )
            .union(
                er.select(
                    F.col("dst").alias("id"),
                    F.lit(0).alias("s"),
                    F.lit(1).alias("d"),
                )
            )
            .groupBy("id")
            .agg(F.max("s").alias("s"), F.max("d").alias("d"))
            .where((F.col("s") == 1) & (F.col("d") == 1))
            .select("id")
            .localCheckpoint(eager=True)
        )
        trimmed = remaining.join(both, "id", "left_anti")
        if trimmed.limit(1).count() == 0:
            break
        captured.append(trimmed.select("id", F.col("id").alias("scc")))
        remaining = both
        er = (
            er.join(both.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(both.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
    if remaining.limit(1).count() == 0:
        return _union(captured)
    # src-partitioned + sorted once (CSR layout): the coloring
    # fixpoint's per-iteration SMJ never re-sorts the edge side
    er = (
        er.repartition(run.p, "src")
        .sortWithinPartitions("src")
        .localCheckpoint(eager=True)
    )

    # --- 2. forward-min coloring to fixpoint ---------------------
    # DELTA propagation: min is monotone, so a vertex whose color
    # did not change last iteration has already delivered its
    # contribution — only the changed frontier needs to send.
    # Message volume collapses after the first hops (the edge-side
    # scan stays, but the shuffle/groupBy runs over frontier-edge
    # messages, not all edges every iteration).  prev rides along
    # as a column so the frontier is a predicate over the
    # just-checkpointed relation — no per-iteration self-join.
    colors = remaining.select(
        "id", F.col("id").alias("color")
    ).localCheckpoint(eager=True)
    frontier = colors
    while True:
        incoming = (
            er.join(frontier.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.min("color").alias("mn"))
        )
        new_colors = (
            colors.join(incoming, colors.id == incoming.dst, "left")
            .select(
                "id",
                F.least(
                    F.col("color"), F.coalesce("mn", F.col("color"))
                ).alias("color"),
                F.col("color").alias("prev"),
            )
            .localCheckpoint(eager=True)
        )
        frontier = new_colors.where(
            F.col("color") != F.col("prev")
        ).select("id", "color")
        colors = new_colors.select("id", "color")
        if frontier.limit(1).count() == 0:
            break

    # --- 3. backward sweep within each color ---------------------
    member = colors.where(F.col("color") == F.col("id")).select(
        "id", "color"
    )
    member = member.localCheckpoint(eager=True)
    ce = (
        er.join(colors.withColumnRenamed("id", "src")
                .withColumnRenamed("color", "csrc"), "src")
        .join(colors.withColumnRenamed("id", "dst")
              .withColumnRenamed("color", "cdst"), "dst")
        .where(F.col("csrc") == F.col("cdst"))
        .select("src", "dst", F.col("csrc").alias("color"))
        # gather key of the sweep is (dst, color): partition + sort
        # once so each BFS hop re-sorts only the small frontier
        .repartition(run.p, "dst", "color")
        .sortWithinPartitions("dst", "color")
        .localCheckpoint(eager=True)
    )
    # frontier BFS: each hop gathers predecessors of the NEWLY
    # captured vertices only (not the whole member set) — total
    # gather work is each same-color edge once, not once per hop
    frontier = member
    while True:
        grown = (
            ce.join(
                frontier.withColumnRenamed("id", "dst"),
                ["dst", "color"],
                "left_semi",
            )
            .select(F.col("src").alias("id"), "color")
            .distinct()
            .join(member, ["id", "color"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if grown.limit(1).count() == 0:
            break
        member = member.unionByName(grown).localCheckpoint(eager=True)
        frontier = grown

    captured.append(member.select("id", F.col("color").alias("scc")))
    return _union(captured)


def _union(parts: list[DataFrame]) -> DataFrame:
    return functools.reduce(DataFrame.unionByName, parts)
