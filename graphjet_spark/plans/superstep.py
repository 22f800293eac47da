"""Co-partitioned superstep runner for the vertex-state loops (PageRank,
hash-min and star CC, BFS, SSSP, label propagation, Katz, eigenvector,
HITS, ANF, SCC, coreness, WL): a fixed number of shuffles and one Spark
job per superstep (SCC's inner fixpoints run their own jobs inside its
step).  Hash-min CC, BFS and SSSP share one frontier step,
:meth:`SuperstepRunner.min_plus`.

- **Planning session.**  Loops plan in ``spark.newSession()`` with AQE
  off, broadcast joins off and ``shuffle.partitions = P`` (the edge
  relation's partition count): under AQE a lazy ``localCheckpoint``
  loses the state's partitioning and each exchange runs as its own job,
  and the broadcast threshold ships the state every superstep.  The
  caller's conf is never touched (safe under serve.py's threads);
  inputs and result cross via uniquely named global temp views, dropped
  on exit, and the result belongs to the caller's session.
- **Co-partitioned state.**  The ``id``-keyed state is hash-partitioned
  and sorted into the P blocks of the cached, gather-key sorted edge
  relation, so ``edges ⋈ state`` and ``state ⋈ aggregate`` are
  exchange-free merge joins; the one shuffle is the message aggregation
  with its map-side partial combine (hub fan-in collapses per task).
  P is the caller's ``defaultParallelism`` (PageRank may set it).
- **Owned cache.**  The runner is the only code in the engine that
  persists a relation: every one :meth:`SuperstepRunner.layout_edges`
  or :meth:`SuperstepRunner.cache` persists is unpersisted on exit,
  after the views are dropped, also when the loop raises.  The returned
  plan must therefore read only checkpointed relations, never one the
  runner cached.  Plans that keep their own loop (k-core, densest
  subgraph, bow-tie sweeps, betweenness, the PPR sweep cut, k-truss,
  the walk builders) open a runner only for its layouts, its cache and
  P: they plan in the caller's session, never ``adopt`` their edges,
  and never call :meth:`SuperstepRunner.run`.
- **One action per superstep.**  The action that materializes the lazy
  ``localCheckpoint`` returns the superstep's per-partition aggregates:
  the scalars the next superstep reads as literals, and its metrics
  (``stats["supersteps"]``, and the :class:`CheckpointManager` commit,
  after which the state is read back from parquet and re-laid out).
"""

from __future__ import annotations

import functools
import operator
import time
import uuid
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.checkpoints import CheckpointManager

# name -> (per-partition aggregate, how partitions combine: sum or max)
Aggs = dict[str, tuple[Column, Callable]]


class SuperstepRunner:
    """Owns one superstep loop: the planning session, the state layout,
    the per-superstep action, commits, resume and the lifetime of the
    relations it caches.  Use as a context manager so the global temp
    views are dropped and the cached relations released.  A plan that
    keeps its own loop uses only :meth:`layout_edges`, :meth:`cache`
    and ``p``, in the caller's session."""

    def __init__(
        self,
        spark: SparkSession,
        algo: str,
        partitions: int | None = None,
        checkpoint: CheckpointManager | None = None,
        stats: dict | None = None,
    ):
        self.spark, self.algo, self.checkpoint = spark, algo, checkpoint
        self.p = partitions or spark.sparkContext.defaultParallelism
        self.child = spark.newSession()
        for key, value in (
            ("spark.sql.adaptive.enabled", "false"),
            ("spark.sql.autoBroadcastJoinThreshold", "-1"),
            ("spark.sql.shuffle.partitions", str(self.p)),
        ):
            self.child.conf.set(key, value)
        self.history: list[dict] = []
        if stats is not None:
            stats["supersteps"] = self.history
        self._db = spark.conf.get("spark.sql.globalTempDatabase", "global_temp")
        self._views: list[str] = []
        self._cached: list[DataFrame] = []

    def __enter__(self) -> "SuperstepRunner":
        return self

    def __exit__(self, *exc) -> None:
        for name in self._views:
            self.spark.catalog.dropGlobalTempView(name)
        for df in self._cached:
            df.unpersist()

    def cache(self, df: DataFrame) -> DataFrame:
        """``df`` persisted until the loop exits."""
        df = df.persist()
        self._cached.append(df)
        return df

    def _view(self, df: DataFrame) -> str:
        name = f"superstep_{uuid.uuid4().hex}"
        df.createGlobalTempView(name)
        self._views.append(name)
        return f"{self._db}.{name}"

    def adopt(self, df: DataFrame) -> DataFrame:
        """A caller-session DataFrame, as seen from the planning session."""
        return self.child.table(self._view(df))

    def export(self, df: DataFrame) -> DataFrame:
        """A planning-session DataFrame, returned to the caller's session."""
        return self.spark.table(self._view(df))

    def layout(self, df: DataFrame) -> DataFrame:
        """The state layout: P hash blocks by ``id``, sorted by ``id``."""
        return df.repartition(self.p, "id").sortWithinPartitions("id")

    def layout_edges(self, df: DataFrame, key: str) -> DataFrame:
        """An edge relation laid out by its gather ``key`` (the CSR
        layout): the state's P hash blocks, sorted by ``key``, cached,
        so the per-superstep merge join never shuffles or re-sorts it."""
        return self.cache(df.repartition(self.p, key).sortWithinPartitions(key))

    def materialize(self, df: DataFrame, aggs: Aggs) -> tuple[DataFrame, dict]:
        """Lazy ``localCheckpoint`` of ``df`` plus the one action that
        materializes it and returns its per-partition aggregates."""
        df = df.localCheckpoint(eager=False)
        parts = sorted(
            (
                r.asDict()
                for r in df.groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    *[col.alias(name) for name, (col, _) in aggs.items()],
                )
                .collect()
            ),
            key=lambda r: r["partition_id"],
        )
        out = {"rows": sum(r["rows"] for r in parts)}
        for name, (_, combine) in aggs.items():
            out[name] = combine([r[name] for r in parts if r[name] is not None] or [0])
        out["partitions"] = parts
        return df, out

    def run(
        self,
        initial: Callable[[], DataFrame],
        step: Callable[[DataFrame, dict], DataFrame],
        *,
        iters: int,
        keep: list[str],
        aggs: Aggs | None = None,
        start_aggs: Aggs | None = None,
        done: Callable[[dict, dict], bool] | None = None,
    ) -> DataFrame:
        """Supersteps up to ``iters`` from the last committed state, else
        from ``initial()`` (already laid out), whose ``start_aggs`` are the
        first scalars.  ``step(state, scalars)`` is the next state plus
        the columns ``aggs`` read; stops once ``done(scalars, previous)``
        (``previous`` is the input state's scalars).  Returns the ``keep``
        columns of the final state."""
        last = self.checkpoint.last_committed() if self.checkpoint else None
        last = None if last is None else min(last, iters)
        if last is None:
            state = initial()
        else:
            state = self.layout(self.checkpoint.read_state(self.child, last))
        state, scalars = self.materialize(state, start_aggs or {})
        for it in range(last or 0, iters):
            t0 = time.time()
            prev = scalars
            # the next merge joins need the state sorted by id; the planner
            # drops this sort when the step's last join already sorts it
            new, scalars = self.materialize(
                step(state, prev).sortWithinPartitions("id"), aggs or {}
            )
            scalars.update(algo=self.algo, iteration=it + 1, elapsed_s=time.time() - t0)
            self.history.append(scalars)
            state = new.select(*keep)
            if self.checkpoint is not None:
                path = self.checkpoint.commit_state(it + 1, state, scalars)
                state = self.layout(self.child.read.parquet(path))
            if done is not None and done(scalars, prev):
                break
        return state.select(*keep)

    def min_plus(
        self,
        edges: DataFrame,
        seeds: list[Column],
        *,
        iters: int,
        ids: DataFrame | None = None,
    ) -> DataFrame:
        """Min-plus relaxation, the loop of hash-min CC (weight 0), BFS (1)
        and SSSP: a superstep sets ``d(v) = min(d(v), d(u) + w)`` over the
        edges ``(src=u, dst=v, w)``.  The state holds every ``dst`` and
        ``ids`` row, with one column ``d<i>`` per ``seeds`` expression over
        ``id`` (null: unreached); returns ``(id, d0, ...)`` after at most
        ``iters`` supersteps, stopping once none changes.  Only rows that
        changed in the previous superstep (``fresh``) send, which is exact
        for a monotone min, and the filter keeps the state's layout, so the
        one shuffle is the ``min`` per ``dst``."""
        e = self.layout_edges(edges, "src")
        vertices = e.select(F.col("dst").alias("id"))
        if ids is not None:
            vertices = vertices.union(ids)
        ds = [f"d{i}" for i in range(len(seeds))]
        # grouped by ``id`` alone, so the state layout needs no second
        # exchange (a seed that aliases ``id`` above a distinct's exchange
        # would leave the state partitioned by that alias)
        state = vertices.groupBy("id").agg(*[F.min(c).alias(d) for c, d in zip(seeds, ds)])

        def step(st: DataFrame, _sc: dict) -> DataFrame:
            front = st.where("fresh")
            msgs = (
                e.join(front, e.src == front.id)
                .groupBy("dst")
                .agg(*[F.min(F.col(d) + F.col("w")).alias(f"m{d}") for d in ds])
            )
            changed = [
                F.coalesce(F.col(f"m{d}") < F.col(d), F.col(f"m{d}").isNotNull()) for d in ds
            ]
            return st.join(msgs, st.id == msgs.dst, "left").select(
                "id",
                *[F.least(d, f"m{d}").alias(d) for d in ds],
                functools.reduce(operator.or_, changed).alias("fresh"),
            )

        reached = functools.reduce(operator.or_, [F.col(d).isNotNull() for d in ds])
        return self.run(
            lambda: self.layout(state.withColumn("fresh", reached)),
            step,
            iters=iters,
            keep=["id", *ds, "fresh"],
            aggs={"changed": (F.count_if("fresh"), sum)},
            done=lambda s, _: s["changed"] == 0,
        ).select("id", *ds)
