"""Batch SALSA on the bipartite src->dst subgraph — deterministic
expected-value formulation.

GraphJet itself ships two SALSA semantics: a Monte-Carlo full-graph
walk and a **deterministic two-phase power iteration over a frozen
per-query subgraph** (reference: graphjet-core/src/main/java/com/
twitter/graphjet/algorithms/salsa/subgraph/SalsaSubgraphInternalState
.java:124-208 and SubgraphSalsa.java:39-103).  This module implements
the latter's semantics with float weights:

  - seeding (salsa/SalsaIterations.java:105-146): seeds with zero
    degree dropped; the query node, if unweighted, takes
    ``total * f/(1-f)`` so it holds fraction ``f`` of all mass
    (default 0.9, SalsaRequestBuilder.java:43); mass scaled to
    ``num_walks`` units;
  - forward (left->right) step (SalsaSubgraphInternalState.java:171-189):
    each subgraph edge (u,v) carries w(u)/deg(u) onto v's CUMULATIVE
    visit weight; afterwards the left side holds only the query node
    with alpha * total left mass (reset, default alpha=0.3);
  - backward (right->left) step (:194-208): w(u) += sum over u's
    subgraph edges of cum_w(v) * 1/deg_sub(v);
  - ``walk_length`` must be odd (SalsaRequestBuilder.java:74-76); the
    final forward step also records social proof (fullgraph/
    FinalSalsaIteration.java:22-36);
  - scores normalized by total RHS visit mass
    (salsa/SalsaSelectResults.java:77-79).

Pinned deviations (deterministic by design, mirrored by the test
oracle): float mass instead of integer walk counts (the reference
ceils/truncates, :146 and :207); the subgraph is the seeds' exact
distinct out-edge set rather than ``num_walks`` sampled edges per seed
(expected-value semantics — GraphJet's own precedent for replacing
per-walk RNG with deterministic spreading).

Scale: the per-query subgraph gather is the only full-table touch — a
broadcast semi-join on the tiny seed set, prunable to CSR blocks by
src; every superstep then runs on the (small) subgraph with
localCheckpoint lineage truncation.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def salsa(
    edges: DataFrame,
    query_node: int,
    seeds_with_weight: dict[int, float] | None = None,
    *,
    num_walks: int = 1000,
    walk_length: int = 5,
    reset_prob: float = 0.3,
    query_weight_fraction: float = 0.9,
    max_results: int | None = 10,
    max_social_proof: int = 2,
    weight_col: str | None = None,
) -> DataFrame:
    """Returns (id, score, social_proof array<struct<w,src>>) ordered by
    score desc, id asc.

    ``weight_col``: optional edge-weight column — transitions become
    proportional to edge weight in both directions (the WeightedNodeVisitor
    generalization, reference algorithms/salsa/SalsaNodeVisitor.java:
    93-115); default is the reference subgraph semantics (uniform over
    distinct edges).
    """
    if walk_length % 2 != 1:
        raise ValueError("walk_length must be odd")  # reference :74-76
    spark = edges.sparkSession

    seeds = dict(seeds_with_weight or {})
    all_left = sorted(set(seeds) | {query_node})
    left_df = broadcast(
        spark.createDataFrame([(v,) for v in all_left], "src bigint")
    )
    if weight_col is None:
        sub = edges.select("src", "dst").join(left_df, "src").distinct()
        sub = sub.withColumn("ew", F.lit(1.0))
    else:
        # multi-edges collapse by summing their weights
        sub = (
            edges.select("src", "dst", F.col(weight_col).alias("w"))
            .join(left_df, "src")
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("ew"))
        )
    sub = sub.localCheckpoint(eager=True)  # freeze the subgraph

    out_deg = sub.groupBy("src").agg(F.sum("ew").alias("deg"))
    in_recip = sub.groupBy("dst").agg((1.0 / F.sum("ew")).alias("recip"))
    # eager checkpoint, not persist: the returned lazy plan reads links,
    # so a persist here could never be released
    links = sub.join(out_deg, "src").join(in_recip, "dst").localCheckpoint(eager=True)

    # --- seeding -------------------------------------------------------
    alive = {r["src"] for r in out_deg.select("src").collect()}
    w = {s: wt for s, wt in seeds.items() if s in alive}
    total = float(sum(w.values()))
    if query_node not in w and query_node in alive:
        qw = (
            total * query_weight_fraction / (1.0 - query_weight_fraction)
            if total > 0.0
            else 1.0
        )
        w[query_node] = qw
        total += qw
    if not w:
        return spark.createDataFrame(
            [], "id bigint, score double, social_proof array<struct<w:double,src:bigint>>"
        )
    left_w = spark.createDataFrame(
        [(int(u), wt / total * num_walks) for u, wt in w.items()],
        "id bigint, w double",
    )

    right_cum: DataFrame | None = None
    final_contrib: DataFrame | None = None

    # The whole walk is ONE lazy plan: reset/normalization scalars are
    # single-row aggregate frames cross-joined in, never collected —
    # walk_length is small (default 5) so lineage depth stays bounded
    # without per-step checkpoints, and the entire query runs as a
    # single Spark job.
    for step in range(walk_length):
        forward = step % 2 == 0
        if forward:
            contrib = (
                links.join(broadcast(left_w), links.src == F.col("id"))
                .select(
                    links.dst,
                    (F.col("w") * F.col("ew") / F.col("deg")).alias("c"),
                    links.src.alias("proof_src"),
                )
            )
            step_mass = contrib.groupBy("dst").agg(F.sum("c").alias("c"))
            right_cum = (
                step_mass
                if right_cum is None
                else right_cum.unionByName(step_mass)
                .groupBy("dst")
                .agg(F.sum("c").alias("c"))
            )
            if step == walk_length - 1:  # final forward: social proof
                final_contrib = contrib
            # reset: the left side collapses to the query node holding
            # alpha * total left mass (lazy single-row aggregate)
            left_w = left_w.agg(
                F.sum("w").alias("s")
            ).select(
                F.lit(int(query_node)).alias("id"),
                (F.lit(reset_prob) * F.coalesce(F.col("s"), F.lit(0.0))).alias("w"),
            )
        else:
            gathered = (
                links.join(right_cum, "dst")
                .groupBy("src")
                .agg(F.sum(F.col("c") * F.col("ew") * F.col("recip")).alias("g"))
                .withColumnRenamed("src", "id")
            )
            left_w = (
                left_w.join(gathered, "id", "full")
                .select(
                    "id",
                    (
                        F.coalesce(F.col("w"), F.lit(0.0))
                        + F.coalesce(F.col("g"), F.lit(0.0))
                    ).alias("w"),
                )
            )

    total_mass = right_cum.agg(F.sum("c").alias("tm"))
    proofs = (
        final_contrib.groupBy("dst")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(F.col("c").alias("w"), F.col("proof_src").alias("src"))
                    ),
                    asc=False,
                ),
                1,
                max_social_proof,
            ).alias("social_proof")
        )
    )
    result = (
        right_cum.join(proofs, "dst", "left")
        .crossJoin(broadcast(total_mass))
        .select(
            F.col("dst").alias("id"),
            (F.col("c") / F.col("tm")).alias("score"),
            "social_proof",
        )
        .orderBy(F.desc("score"), F.asc("id"))
    )
    if max_results is not None:
        result = result.limit(max_results)
    return result


# --------------------------------------------------- Monte-Carlo full graph

# Deterministic per-walk RNG (engine-defined, mirrored literally by the
# pytest oracle): Lehmer step over a 31-bit Mersenne field keyed by
# (walk_id, iteration, draw kind, run seed).  Each walk's reset draw and
# edge pick are independent pure functions of its id — so the walk
# ensemble is reproducible under any partitioning, unlike a stateful
# java.util.Random stream.
_MC_M = (1 << 31) - 1
_MC_A = 16807
_SALT_RESET, _SALT_LEFT, _SALT_RIGHT = 0, 1, 2


def _mc_draw(wid_col, step: int, salt: int, seed: int):
    x = F.pmod(
        wid_col * 1_000_003 + F.lit(step * 7_919 + salt * 104_729 + seed),
        F.lit(_MC_M),
    )
    return F.pmod(x * _MC_A, F.lit(_MC_M))


def salsa_montecarlo(
    edges: DataFrame,
    query_node: int,
    seeds_with_weight: dict[int, float] | None = None,
    *,
    num_walks: int = 1000,
    walk_length: int = 5,
    reset_prob: float = 0.3,
    query_weight_fraction: float = 0.9,
    max_results: int | None = 10,
    seed: int = 42,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Monte-Carlo full-graph SALSA with true per-walk semantics — the
    reference's primary algorithm (fullgraph/LeftSalsaIteration.java:
    63-95, RightSalsaIteration.java:34-46, SalsaIterations.java:77-146):

    - seeding: integer walk counts ``ceil(w_u/total * num_walks)`` per
      surviving seed (SalsaIterations.java:139-146), query-weight rule
      as in the subgraph form;
    - left iteration: every walk first draws reset vs continue at
      ``reset_prob``; reset walks park on the query node and rejoin at
      the NEXT left iteration (resetCurrentLeftNodes, :94-95) without
      visiting; continuing walks hop a uniformly sampled out-edge and
      increment the right node's visit counter;
    - right iteration: each walk hops back along a uniformly sampled
      in-edge;
    - scores: visit counts normalized by total visits
      (SalsaSelectResults.java:77-79).

    Spark realization: walks are ROWS (bounded by ``num_walks`` — a
    query parameter, never graph-sized), each hop is a broadcast join of
    the walk set against the row-numbered edge table, and every random
    choice is a pure hash of (walk_id, iteration) so results are
    deterministic under any partitioning/scale.  Deviation (documented,
    engine-defined): uniform sampling is over *distinct* neighbors and
    the RNG is the Lehmer hash above, not java.util.Random.

    ``pairs``: optional pre-deduplicated (src, dst) pair table (e.g.
    GraphTables.pairs) — skips the per-query distinct.

    Returns (id, visits, score) ordered by score desc, id asc.
    """
    spark = edges.sparkSession
    if pairs is not None:
        e = pairs
    else:
        e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)

    from pyspark.sql import Window

    lw = Window.partitionBy("src").orderBy("dst")
    left_edges = e.withColumn("rn", F.row_number().over(lw) - 1)
    left_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("ldeg"))
    left_tbl = (
        left_edges.join(left_deg, "src")
        .select(
            F.col("src").alias("node"), F.col("dst").alias("nbr"), "rn", "ldeg"
        )
        .localCheckpoint(eager=True)
    )
    rw = Window.partitionBy("dst").orderBy("src")
    right_edges = e.withColumn("rn", F.row_number().over(rw) - 1)
    right_deg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("rdeg"))
    right_tbl = (
        right_edges.join(right_deg, "dst")
        .select(
            F.col("dst").alias("node"), F.col("src").alias("nbr"), "rn", "rdeg"
        )
        .localCheckpoint(eager=True)
    )

    # --- seeding: integer walk counts, walk ids in sorted-seed order ---
    alive = {r["src"] for r in left_deg.select("src").collect()}
    w = {s: wt for s, wt in (seeds_with_weight or {}).items() if s in alive}
    total = float(sum(w.values()))
    if query_node not in w and query_node in alive:
        qw = (
            total * query_weight_fraction / (1.0 - query_weight_fraction)
            if total > 0.0
            else 1.0
        )
        w[query_node] = qw
        total += qw
    if not w:
        return spark.createDataFrame([], "id bigint, visits bigint, score double")
    rows, wid = [], 0
    for u in sorted(w):
        c = int(math.ceil(w[u] / total * num_walks))
        rows.append((wid, wid + c, int(u)))
        wid += c
    intervals = broadcast(
        spark.createDataFrame(rows, "lo bigint, hi bigint, node bigint")
    )
    walks = (
        spark.range(wid)
        .withColumnRenamed("id", "wid")
        .join(intervals, (F.col("wid") >= F.col("lo")) & (F.col("wid") < F.col("hi")))
        .select("wid", "node")
    )

    visit_parts: list[DataFrame] = []
    parked: DataFrame | None = None  # reset walks waiting at the query node

    for step in range(walk_length):
        if step % 2 == 0:  # left iteration
            r = _mc_draw(F.col("wid"), step, _SALT_RESET, seed)
            walks = walks.withColumn(
                "reset", (r / F.lit(float(_MC_M))) < reset_prob
            )
            newly_parked = walks.filter("reset").select(
                "wid", F.lit(int(query_node)).alias("node")
            )
            parked = (
                newly_parked
                if parked is None
                else parked.unionByName(newly_parked)
            )
            # the walk set is bounded by num_walks — broadcast it on
            # both hop joins so the (big) edge tables never shuffle
            hop = (
                walks.filter(~F.col("reset"))
                .hint("broadcast")
                .join(
                    left_deg.select(F.col("src").alias("node"), "ldeg"), "node"
                )
                .withColumn(
                    "rn",
                    F.pmod(_mc_draw(F.col("wid"), step, _SALT_LEFT, seed), F.col("ldeg")),
                )
                .hint("broadcast")
                .join(left_tbl.select("node", "nbr", "rn"), ["node", "rn"])
                .select("wid", F.col("nbr").alias("node"))
                .localCheckpoint(eager=False)
            )
            visit_parts.append(hop.select("node"))
            walks = hop
        else:  # right iteration
            hop = (
                walks.select("wid", "node")
                .hint("broadcast")
                .join(
                    right_deg.select(F.col("dst").alias("node"), "rdeg"), "node"
                )
                .withColumn(
                    "rn",
                    F.pmod(_mc_draw(F.col("wid"), step, _SALT_RIGHT, seed), F.col("rdeg")),
                )
                .hint("broadcast")
                .join(right_tbl.select("node", "nbr", "rn"), ["node", "rn"])
                .select("wid", F.col("nbr").alias("node"))
            )
            walks = hop.unionByName(parked).localCheckpoint(eager=False)
            parked = None

    from functools import reduce

    visits = reduce(lambda a, b: a.unionByName(b), visit_parts)
    counts = visits.groupBy("node").agg(F.count(F.lit(1)).alias("visits"))
    tm = counts.agg(F.sum("visits").alias("tm"))
    result = (
        counts.crossJoin(broadcast(tm))
        .select(
            F.col("node").alias("id"),
            "visits",
            (F.col("visits") / F.col("tm")).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("id"))
    )
    if max_results is not None:
        result = result.limit(max_results)
    return result
