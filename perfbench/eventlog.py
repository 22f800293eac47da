"""Per-layer numbers from Spark's own telemetry.

``parse`` reads an uncompressed, non-rolling Spark event log (one JSON
object per line) and folds every finished task into the layer that ran
it.  A job's layer is its ``spark.jobGroup.id`` property, which the
benchmark sets around each call into the engine; jobs started by a
streaming query carry ``sql.streaming.queryId`` instead and land in the
layer ``streaming:<query id>``.  Python worker time and Arrow bytes come from the
SQL accumulables that Spark attaches to each task (``time to run Python
workers`` and friends), converted with the metric type the SQL plan
events declare.

``stream_summary`` condenses ``StreamingQuery.recentProgress`` dicts.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

UDF_ACCUMULABLES = {
    "time to run Python workers": "udf.python_run_s",
    "time to start Python workers": "udf.python_start_s",
    "data sent to Python workers": "udf.bytes_to_python_mb",
    "data returned from Python workers": "udf.bytes_from_python_mb",
}
# SQL metric type -> factor to seconds (timings) or MiB (sizes)
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0 / (1 << 20)}
MB = 1.0 / (1 << 20)


class _Group:
    def __init__(self) -> None:
        self.jobs = 0
        self.start_ms = float("inf")
        self.end_ms = 0.0
        self.tasks = 0
        self.run_ms = 0.0
        self.cpu_ns = 0.0
        self.gc_ms = 0.0
        self.shuffle_read = 0.0
        self.shuffle_write = 0.0
        self.fetch_wait_ms = 0.0
        self.spill = 0.0
        self.udf = dict.fromkeys(UDF_ACCUMULABLES.values(), 0.0)
        self.stage_task_ms: dict[int, list[float]] = defaultdict(list)

    def summary(self, cores: int) -> dict[str, float]:
        wall = max(0.0, (self.end_ms - self.start_ms) / 1e3) if self.jobs else 0.0
        skew = 0.0
        if self.stage_task_ms:
            heavy = max(self.stage_task_ms.values(), key=sum)
            med = statistics.median(heavy)
            skew = max(heavy) / med if med > 0 else 1.0
        return {
            "wall_s": wall,
            "jobs": self.jobs,
            "tasks": self.tasks,
            "core_busy_frac": self.run_ms / 1e3 / (wall * cores) if wall else 0.0,
            "executor_cpu_s": self.cpu_ns / 1e9,
            "gc_s": self.gc_ms / 1e3,
            "shuffle_read_mb": self.shuffle_read * MB,
            "shuffle_write_mb": self.shuffle_write * MB,
            "fetch_wait_s": self.fetch_wait_ms / 1e3,
            "spill_mb": self.spill * MB,
            "task_skew": skew,
            **self.udf,
        }


def _plan_metric_types(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = m["metricType"]
    for child in node.get("children", ()):
        _plan_metric_types(child, out)


def _layer(props: dict | None) -> str:
    props = props or {}
    if props.get("sql.streaming.queryId"):
        return "streaming:" + props["sql.streaming.queryId"]
    return props.get("spark.jobGroup.id") or "untagged"


def parse(path: str, cores: int) -> dict[str, dict[str, float]]:
    """Per job-group summaries, Python-worker totals included."""
    groups: dict[str, _Group] = defaultdict(_Group)
    job_layer: dict[int, str] = {}
    stage_layer: dict[int, str] = {}
    metric_type: dict[int, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev["Stage ID"], "untagged")
                g = groups[layer]
                info = ev["Task Info"]
                tm = ev.get("Task Metrics") or {}
                g.tasks += 1
                run = tm.get("Executor Run Time", 0)
                g.run_ms += run
                g.cpu_ns += tm.get("Executor CPU Time", 0)
                g.gc_ms += tm.get("JVM GC Time", 0)
                rd = tm.get("Shuffle Read Metrics") or {}
                g.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                g.fetch_wait_ms += rd.get("Fetch Wait Time", 0)
                wr = tm.get("Shuffle Write Metrics") or {}
                g.shuffle_write += wr.get("Shuffle Bytes Written", 0)
                g.spill += tm.get("Disk Bytes Spilled", 0)
                g.stage_task_ms[ev["Stage ID"]].append(float(run))
                for acc in info.get("Accumulables", ()):
                    key = UDF_ACCUMULABLES.get(acc.get("Name"))
                    if key is None or "Update" not in acc:
                        continue
                    scale = _SCALE.get(metric_type.get(acc["ID"], ""), 0.0)
                    g.udf[key] += float(acc["Update"]) * scale
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_layer[sid] = _layer(ev.get("Properties"))
            elif kind == "SparkListenerJobStart":
                layer = _layer(ev.get("Properties"))
                job_layer[ev["Job ID"]] = layer
                g = groups[layer]
                g.jobs += 1
                g.start_ms = min(g.start_ms, ev["Submission Time"])
                for sid in ev.get("Stage IDs", ()):
                    stage_layer.setdefault(sid, layer)
            elif kind == "SparkListenerJobEnd":
                g = groups[job_layer.get(ev["Job ID"], "untagged")]
                g.end_ms = max(g.end_ms, ev["Completion Time"])
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _plan_metric_types(ev.get("sparkPlanInfo") or {}, metric_type)
            elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                _plan_metric_types({"metrics": ev.get("sqlPlanMetrics", ())}, metric_type)
    return {k: g.summary(cores) for k, g in groups.items()}


def stream_summary(progress: list[dict]) -> dict[str, float]:
    """Trigger count and per-trigger medians from query progress; empty
    if no trigger read any input."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not batches:
        return {}

    def med(*keys: str) -> float:
        return statistics.median(
            sum(p["durationMs"].get(k, 0) for k in keys) for p in batches
        )

    return {
        "batches": float(len(batches)),
        "trigger_p50_ms": med("triggerExecution"),
        "add_batch_ms": med("addBatch"),
        "planning_ms": med("queryPlanning", "getBatch", "latestOffset"),
        "commit_ms": med("walCommit", "commitOffsets"),
    }
