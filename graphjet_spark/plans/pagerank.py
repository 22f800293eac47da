"""Power-iteration PageRank over a DataFrame edge table.

This is the distributed analogue of GraphJet's deterministic subgraph-
SALSA power iteration (reference: graphjet-core/src/main/java/com/
twitter/graphjet/algorithms/salsa/subgraph/SalsaSubgraphInternalState.java
:171-208 — spread w(u)/deg(u) along each edge, with a reset fraction),
generalized to the full graph with uniform teleport.

Scale design: the loop runs on
:class:`~graphjet_spark.plans.superstep.SuperstepRunner` — ``links`` is
src-partitioned, sorted and cached once and the ``(id, rank, dng)``
state shares its hash blocks, so the only shuffle per superstep is the
``groupBy(dst)`` sum, whose map-side partial aggregation sends a
mega-hub ``dst`` at most one row per map task (``skew_salt`` adds an
explicit, equivalent salted two-phase sum).  Dangling mass and the
L∞/L1 deltas come from the action that materializes each superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.checkpoints import CheckpointManager
from graphjet_spark.plans.superstep import SuperstepRunner


def _prepare(
    run: SuperstepRunner,
    edges: DataFrame,
    assume_simple: bool,
    weight_col: str | None = None,
):
    """Build (links, vertices) — the static per-run tables.  ``links``
    is ``(src, dst, out_degree)`` in the runner's src-keyed edge layout;
    ``vertices`` is ``(id, dng)`` with ``dng`` marking dangling
    vertices (no out-link).

    With ``weight_col``, multi-edges collapse by summing weights and
    ``out_degree`` holds the total out-WEIGHT per source (transitions
    become weight-proportional); ``links`` then carries the per-edge
    weight ``w``."""
    if weight_col is None:
        e = edges.select("src", "dst")
        if not assume_simple:
            e = e.distinct()
        out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
        link_cols = ["src", "dst", "out_degree"]
    else:
        e = (
            edges.select("src", "dst", F.col(weight_col).alias("w"))
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
        out_deg = e.groupBy("src").agg(F.sum("w").alias("out_degree"))
        link_cols = ["src", "dst", "w", "out_degree"]
    links = run.layout_edges(e.join(out_deg, "src").select(*link_cols), "src")
    # a vertex is dangling iff it never appears as a source
    vertices = (
        links.select(F.col("src").alias("id"), F.lit(False).alias("dng"))
        .union(links.select(F.col("dst").alias("id"), F.lit(True).alias("dng")))
        .groupBy("id")
        .agg(F.min("dng").alias("dng"))
    )
    return links, vertices


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    *,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    fixed_iters: int | None = None,
    skew_salt: int | None = None,
    checkpoint: CheckpointManager | None = None,
    partitions: int | None = None,
    assume_simple: bool = False,
    teleport: dict[int, float] | None = None,
    weight_col: str | None = None,
    warm_start: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Compute PageRank; returns ``(id, pagerank)``.

    ``fixed_iters`` runs exactly that many supersteps (oracle-parity
    mode); otherwise iterate until ``L∞ delta < tol`` or ``max_iter``.
    With ``checkpoint``, every superstep commits state + metrics and an
    interrupted run resumes from the last committed iteration.
    ``stats`` (optional dict) receives the per-superstep metrics under
    ``"supersteps"`` (rows, deltas, dangling mass, per-partition rows,
    wall time).

    ``teleport``: optional seed->weight dict for **personalized**
    PageRank — the (1-d) restart mass and all dangling mass return to
    the seed distribution instead of uniform (the batch cousin of
    GraphJet's query-biased SALSA reset, reference algorithms/salsa/
    fullgraph/LeftSalsaIteration.java:63-95 — resets return to the
    query node).  Initial state is the teleport distribution.

    ``warm_start``: optional ``(id, rank)`` state from a previous run —
    the delta-ingest pattern (GraphJet's streamed graph, batch form):
    after edges change, re-converging from the old fixpoint takes far
    fewer supersteps than a cold start, because the fixpoint is unique
    (damping < 1) and the perturbation is local.  Vertices unseen in
    the hint get the uniform share; the padded state is renormalized to
    unit mass.
    """
    d = damping
    with SuperstepRunner(spark, "pagerank", partitions, checkpoint, stats) as run:
        links, vertices = _prepare(run, run.adopt(edges), assume_simple, weight_col)
        keep = ["id", "rank", "dng"] + (["p"] if teleport is not None else [])

        def initial() -> DataFrame:
            # w: the unnormalized initial rank (null = the uniform share)
            st, w = vertices, F.lit(None).cast("double")
            aggs = {}
            if teleport is not None:
                total_w = float(sum(teleport.values()))
                tele = run.child.createDataFrame(
                    [(int(v), x / total_w) for v, x in teleport.items()],
                    "id bigint, p double",
                )
                st = st.join(tele, "id", "left").withColumn(
                    "p", F.coalesce("p", F.lit(0.0))
                )
                w, aggs["p_sum"] = F.col("p"), (F.sum("p"), sum)
            if warm_start is not None:
                hint = run.adopt(warm_start).select("id", F.col("rank").alias("w"))
                st, w = st.join(hint, "id", "left"), F.col("w")
            st, s = run.materialize(
                run.layout(st.withColumn("w", w)),
                {
                    "w_sum": (F.sum("w"), sum),
                    "w_null": (F.count_if(F.col("w").isNull()), sum),
                    **aggs,
                },
            )
            n = float(s["rows"])
            total = s["w_sum"] + s["w_null"] / n
            cols = [
                "id",
                (F.coalesce("w", F.lit(1.0 / n)) / F.lit(total)).alias("rank"),
                "dng",
            ]
            if teleport is not None:
                # renormalize over the seeds that are vertices: stale ids
                # would otherwise silently deflate every rank
                if s["p_sum"] <= 0.0:
                    raise ValueError(
                        "personalized pagerank: no teleport seed is a graph vertex"
                    )
                cols.append((F.col("p") / F.lit(s["p_sum"])).alias("p"))
            return st.select(*cols)

        def step(st: DataFrame, sc: dict) -> DataFrame:
            n, dm = float(sc["rows"]), sc["dangling_mass"]
            share = (
                F.col("rank") / F.col("out_degree")
                if weight_col is None
                # weighted transitions: rank spreads proportionally to
                # edge weight (same expression order as the oracle SQL)
                else F.col("rank") * F.col("w") / F.col("out_degree")
            )
            contrib_rows = links.join(st, links.src == st.id).select(
                "dst", share.alias("c"), links.src.alias("csrc"),
            )
            if skew_salt:
                # Explicit two-phase aggregation: partial sums on a salted
                # key, final sum on the true key (north-rule mega-hub
                # handling; GraphJet analogue is the degree-tiered
                # PowerLawDegreeEdgePool, reference bipartite/edgepool/
                # PowerLawDegreeEdgePool.java:37-65).
                contribs = (
                    contrib_rows.groupBy(
                        "dst",
                        F.pmod(F.xxhash64("csrc"), F.lit(skew_salt)).alias("salt"),
                    )
                    .agg(F.sum("c").alias("pc"))
                    .groupBy("dst")
                    .agg(F.sum("pc").alias("contrib"))
                )
            else:
                contribs = contrib_rows.groupBy("dst").agg(F.sum("c").alias("contrib"))
            if teleport is not None:
                # personalized: restart + dangling mass follow the seed
                # distribution p(v) instead of 1/N
                base = F.col("p") * (F.lit(1.0 - d) + F.lit(d) * F.lit(dm))
            else:
                base = F.lit((1.0 - d) / n) + F.lit(d) * F.lit(dm) / F.lit(n)
            rank = base + F.lit(d) * F.coalesce("contrib", F.lit(0.0))
            return (
                st.withColumnRenamed("rank", "prev_rank")
                .join(contribs, F.col("id") == contribs.dst, "left")
                .select("id", rank.alias("rank"), "prev_rank", *keep[2:])
            )

        dm_agg = {"dangling_mass": (F.sum(F.when(F.col("dng"), F.col("rank"))), sum)}
        delta = F.abs(F.col("rank") - F.col("prev_rank"))
        ranks = run.run(
            initial,
            step,
            iters=fixed_iters if fixed_iters is not None else max_iter,
            keep=keep,
            aggs={
                **dm_agg,
                "delta_linf": (F.max(delta), max),
                "delta_l1": (F.sum(delta), sum),
            },
            start_aggs=dm_agg,
            done=None if fixed_iters is not None else lambda s, _: s["delta_linf"] < tol,
        )
        return run.export(ranks.select("id", F.col("rank").alias("pagerank")))


def ppr_grouped(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int],
    *,
    damping: float = 0.85,
    fixed_iters: int = 6,
    k: int = 20,
    assume_simple: bool = False,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """Batch personalized PageRank for MANY seeds in ONE superstep loop;
    returns the top-``k`` ``(seed, id, ppr)`` rows per seed.  With
    ``checkpoint``, each superstep's sparse (seed, id, rank) state
    commits atomically with per-partition lineage rows and a resumed
    run continues from the last committed iteration (same contract as
    :func:`pagerank`).

    GraphJet answers one user's random-walk recommendation query at a
    time from its in-memory index (reference algorithms/salsa/
    SalsaIterations.java drives per-request iterations); the batch
    analogue a Spark cluster wants is the *grouped* form — every user's
    personalized vector computed together, state keyed ``(seed, id)``.
    Each seed is an independent restart-to-self distribution
    (teleport = delta_seed), so the result rows for one seed equal
    :func:`pagerank` with ``teleport={seed: 1.0}`` (tested).

    Scale design: state is SPARSE — only ``(seed, id)`` pairs with
    nonzero mass exist (the seed's expanding forward-reachable set), so
    state size is sum_s |N_L(s)|, never ``|seeds| x |V|``; the per-
    superstep join meets the cached src-partitioned links without an
    exchange (the state is laid out by ``id``); the ``(seed, dst)`` sum gets
    map-side combine so mega-hubs never concentrate rows; per-seed
    dangling mass folds into the same superstep job (no driver action
    in the loop).  Seeds absent from the vertex set are dropped.
    """
    d = damping
    with SuperstepRunner(spark, "ppr_grouped", checkpoint=checkpoint) as run:
        links, vertices = _prepare(run, run.adopt(edges), assume_simple, None)
        vertices = run.cache(vertices)
        dangling = vertices.where(F.col("dng")).select("id")
        seed_df = run.cache(
            run.child.createDataFrame([(int(s),) for s in seeds], "seed bigint")
            .join(vertices, F.col("seed") == vertices.id, "left_semi")
        )

        def step(state: DataFrame, _sc: dict) -> DataFrame:
            contribs = (
                state.join(links, state.id == links.src)
                .groupBy("seed", "dst")
                .agg(F.sum(F.col("rank") / F.col("out_degree")).alias("c"))
            )
            # per-seed dangling mass: a tiny (seed, dm) aggregate folded
            # lazily into the superstep plan
            dm = (
                state.join(dangling, "id", "left_semi")
                .groupBy("seed")
                .agg(F.sum("rank").alias("dm"))
            )
            base = seed_df.join(dm, "seed", "left").select(
                "seed",
                F.col("seed").alias("id"),
                (F.lit(1.0 - d) + F.lit(d) * F.coalesce("dm", F.lit(0.0))).alias("b"),
            )
            return (
                contribs.select(
                    "seed", F.col("dst").alias("id"), (F.lit(d) * F.col("c")).alias("cc")
                )
                .join(base, ["seed", "id"], "full_outer")
                .select(
                    "seed",
                    "id",
                    (F.coalesce("cc", F.lit(0.0)) + F.coalesce("b", F.lit(0.0))).alias(
                        "rank"
                    ),
                )
                .repartition(run.p, "id")
            )

        state = run.export(
            run.run(
                lambda: run.layout(
                    seed_df.select("seed", F.col("seed").alias("id"), F.lit(1.0).alias("rank"))
                ),
                step,
                iters=fixed_iters,
                keep=["seed", "id", "rank"],
            )
        )

    from pyspark.sql import Window

    # top-k boundary on the ROUNDED score + id tie-break: total order,
    # cross-engine stable (CLAUDE.md oracle rule)
    w = Window.partitionBy("seed").orderBy(F.desc("ppr"), F.asc("id"))
    return (
        state.select("seed", "id", F.round("rank", 9).alias("ppr"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
