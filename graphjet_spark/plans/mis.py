"""Maximal independent set via Luby's algorithm (deterministic-hash
form), and greedy coloring by iterated MIS.

Luby (SIAM J. Comput. 1986): each round, every undecided vertex draws
a priority; a vertex joins the MIS iff its priority strictly exceeds
every undecided neighbor's, then it and its neighbors leave the
undecided set.  Converges in O(log n) rounds w.h.p. — the classic
Pregel/BSP algorithm behind distributed coloring, scheduling, and
coarsening.

Here the priority is the cross-engine md5-prefix hash of
("mis:" vertex ":" round) — same family as the hash-walk corpus — so
the MIS is a pure function of the graph and the round budget, and the
gate VALUE-compares it against an unrolled DuckDB twin.  Hash ties
(probability ~n²/2⁶⁰) are handled by neither side winning: both
vertices stay undecided and resolve next round under a fresh hash —
deterministic without any tie-break ordering.

Scale shape: both entry points run one Luby round per superstep of
:class:`~graphjet_spark.plans.superstep.SuperstepRunner`.  The state
``(id, color, s)`` holds every non-isolated vertex and shares the hash
blocks of :func:`~graphjet_spark.plans.components.gather_table`, so
both gathers of a round (the neighbor-max of the priorities, then the
winners' exclusion of their neighbors) are exchange-free merge joins
with the symmetrized edges plus one ``groupBy``.  Every round gathers
over all edges; rounds stop early (exactly) once no vertex is
undecided, which the round that decides the last vertex already
reports.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.functions.hashing import md5_prefix_bigint
from graphjet_spark.plans.components import gather_table
from graphjet_spark.plans.superstep import SuperstepRunner


def _luby(
    run: SuperstepRunner,
    sym: DataFrame,
    colors: int,
    rounds: int,
    priority: Callable[[int, int], Column],
) -> DataFrame:
    """``(id, color, s)`` after up to ``colors × rounds`` Luby rounds over
    ``sym`` (the runner's gather table), one round per superstep, with
    ``priority(c, t)`` for round t (from 1) of color c.  A color's first
    round sets the colored rows to 1 and every other row undecided; a
    strict winner gets ``s = 1`` and ``color = c``, and its undecided
    neighbors ``s = 0``.  Once no row is undecided the rest of that
    color's rounds would change nothing, so the loop skips to the next
    color, and stops once no row is uncolored (or the last color has no
    undecided row)."""
    # s: -1 undecided, 1 decided (in the set, or colored), 0 excluded (a
    # neighbor is in the set); 2 marks a winner inside a superstep
    s = F.col("s")
    pos = [0, 0]  # (color, round) of the last superstep planned

    def step(st: DataFrame, sc: dict) -> DataFrame:
        c, t = pos
        if t == rounds or (t and sc["undecided"] == 0):
            c, t = c + 1, 0
        pos[:] = c, t + 1
        if t == 0:
            st = st.withColumn("s", F.when(s == 1, 1).otherwise(-1))
        h = priority(c, t + 1)
        pr = st.where(s == -1).select("id", h.alias("h"))
        nbr = sym.join(pr, sym.b == pr.id).groupBy("a").agg(F.max("h").alias("mh"))
        win = (s == -1) & (nbr.mh.isNull() | (h > nbr.mh))
        st = st.join(nbr, st.id == nbr.a, "left").select(
            "id",
            F.when(win, c).otherwise(F.col("color")).alias("color"),
            F.when(win, 2).otherwise(s).alias("s"),
        )
        # the winners exclude their undecided neighbors in the same round
        won = st.where(s == 2)
        hit = sym.join(won, sym.b == won.id).groupBy(F.col("a").alias("hit")).count()
        excluded = (s == -1) & F.col("hit").isNotNull()
        return st.join(hit, st.id == hit.hit, "left").select(
            "id", "color", F.when(s == 2, 1).when(excluded, 0).otherwise(s).alias("s")
        )

    aggs = {
        "undecided": (F.count_if(s == -1), sum),
        "uncolored": (F.count_if(s <= 0), sum),
    }
    return run.run(
        lambda: run.layout(
            sym.groupBy(F.col("a").alias("id")).agg(
                F.lit(-1).alias("color"), F.lit(-1).alias("s")
            )
        ),
        step,
        iters=colors * rounds,
        keep=["id", "color", "s"],
        aggs=aggs,
        start_aggs=aggs,
        done=lambda sc, _: sc["uncolored"] == 0
        or (pos[0] == colors - 1 and (sc["undecided"] == 0 or pos[1] == rounds)),
    )


def luby_mis(
    spark: SparkSession,
    edges: DataFrame,
    *,
    fixed_iters: int = 8,
) -> DataFrame:
    """(id, state) over the symmetrized simple graph: 1 = in the MIS,
    0 = excluded (a neighbor is in the MIS), -1 = still undecided when
    the round budget ran out (the oracle-parity fixed-depth mode)."""
    with SuperstepRunner(spark, "luby_mis") as run:
        st = _luby(
            run,
            gather_table(run, edges),
            1,
            fixed_iters,
            lambda _c, t: md5_prefix_bigint(
                F.concat(F.lit("mis:"), F.col("id").cast("string"), F.lit(f":{t}"))
            ),
        )
        return run.export(st.select("id", F.col("s").cast("int").alias("state")))


def greedy_coloring(
    spark: SparkSession,
    edges: DataFrame,
    *,
    colors: int = 3,
    mis_iters: int = 6,
) -> DataFrame:
    """(id, color) — distributed greedy graph coloring by iterated
    Luby MIS (Jones & Plassmann '93 family): color c is a maximal
    independent set of the residual graph (vertices not yet colored),
    found with ``mis_iters`` Luby rounds under per-(color, round) hash
    priorities; -1 marks vertices still uncolored when the color
    budget runs out.  Adjacent vertices never share a color >= 0 by
    MIS independence.

    The induced-subgraph restriction is implicit: priorities exist
    only for undecided vertices of the current color, so edges to
    already-colored vertices drop out of the neighbor-max gather on
    their own."""
    with SuperstepRunner(spark, "greedy_coloring") as run:
        st = _luby(
            run,
            gather_table(run, edges),
            colors,
            mis_iters,
            lambda c, t: md5_prefix_bigint(
                F.concat(F.lit("clr:"), F.col("id").cast("string"), F.lit(f":{c}:{t}"))
            ),
        )
        return run.export(st.select("id", F.col("color").cast("int").alias("color")))
