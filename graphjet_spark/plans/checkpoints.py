"""Per-superstep state checkpointing with lineage + convergence metrics.

North-rule requirement: "every superstep checkpoints per-partition lineage
and convergence metrics ... so runs resume mid-iteration".

Production target is an Iceberg table (snapshot commit per superstep);
this sandbox has no Iceberg runtime jar, so the same contract is
implemented over parquet directories published by
:func:`graphjet_spark.sources.committer.commit_staged`:

    <base>/<run_id>/state/iter=<N>/      parquet              (state)
    <base>/<run_id>/metrics/iter=<N>.json                     (metrics)

A superstep is committed iff its state directory exists under its final
name: only the staged rename creates it (atomic on a POSIX filesystem,
mirroring an Iceberg snapshot swap).  Every iteration is kept, because a
resume with a smaller budget reads an older one.
Resume = read max committed iteration and continue — the GraphJet
analogue is safe publication of a sealed segment
(reference: graphjet-core/src/main/java/com/twitter/graphjet/bipartite/
edgepool/PowerLawDegreeEdgePool.java:72-99, single-writer memory-barrier
publication; and optimizer/Optimizer.java:88-130, background seal+swap).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from graphjet_spark.sources.committer import commit_staged, versions


class CheckpointManager:
    """Atomic per-iteration state + metrics commits for superstep loops."""

    def __init__(self, base_dir: str, run_id: str):
        self.run_dir = os.path.join(base_dir, run_id)
        self.state_dir = os.path.join(self.run_dir, "state")
        self.metrics_dir = os.path.join(self.run_dir, "metrics")
        os.makedirs(self.state_dir, exist_ok=True)
        os.makedirs(self.metrics_dir, exist_ok=True)

    # -- state ---------------------------------------------------------
    def _iter_path(self, iteration: int) -> str:
        return os.path.join(self.state_dir, f"iter={iteration}")

    def commit_state(self, iteration: int, df: DataFrame, metrics: dict) -> str:
        """Write state parquet + metrics for one superstep, atomically.

        Idempotent: re-committing an iteration (resume replay) overwrites.
        """
        final = self._iter_path(iteration)
        commit_staged(final, "overwrite", df.write.parquet)
        self._write_metrics(iteration, metrics)
        return final

    def _write_metrics(self, iteration: int, metrics: dict) -> None:
        row = {"iteration": iteration, "committed_at": time.time(), **metrics}
        tmp = os.path.join(self.metrics_dir, f"iter={iteration}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(row, f)
        os.rename(tmp, os.path.join(self.metrics_dir, f"iter={iteration}.json"))

    def last_committed(self) -> int | None:
        """Max iteration with a committed state directory."""
        return max(versions(self.state_dir, "iter"), default=None)

    def read_state(self, spark: SparkSession, iteration: int) -> DataFrame:
        return spark.read.parquet(self._iter_path(iteration))

    def read_metrics(self) -> list[dict]:
        rows = []
        for name in sorted(os.listdir(self.metrics_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.metrics_dir, name)) as f:
                    rows.append(json.load(f))
        return sorted(rows, key=lambda r: r["iteration"])
