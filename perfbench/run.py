"""Benchmark entry point.

    python3 perfbench/run.py --workload web-skewed --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all

Run from the root of a source checkout.  One workload per process: the
run starts its own Spark session, builds its inputs from ``--seed``,
measures for ``--seconds`` (at least one whole unit of work), checks
the engine's outputs, and prints one JSON object as the last line of
stdout.  With ``--trace 0`` it reports the end-to-end metrics listed in
BENCHMARK.json; with ``--trace 1`` it also writes a Spark event log and
reports the per-layer metrics instead (see layers.py), saving them with
the checks to ``.perfbench_out/<workload>.layers.json``.  The exit code
is 0 only if every correctness check passed.

Every workload reports the same end-to-end metrics:

    setup_s      session start, input synthesis (median of several),
                 GraphTables build and warm-up
    job_s        wall of the timed job: build_edges, simple_graph,
                 GraphTables and the four-algorithm batch (web-skewed;
                 median over the jobs run); the streaming-ingest drain
                 under the serving load (serve-ingest)
    edges_per_s  PageRank edges x supersteps / PageRank wall
                 (web-skewed); appended link rows / drain wall
                 (serve-ingest)

``attempted`` counts operations: the six engine calls of each web-skewed
job, and the HTTP requests of serve-ingest.  ``failed`` counts requests
that timed out, were refused or dropped, or got a non-200 response; an
engine call that raises fails the whole run instead.  Serving latency
(``serve.*``) is a per-layer metric only: one refresh stall per run sets
its 99th percentile, which moved by up to 30% between seeds.

``--workload all`` runs every workload untraced and then traced, prints
each end-to-end metric with its unit and the tracing overhead, and
exits non-zero if any run failed a check.

Everything a run writes (inputs, ``spark.local.dir``, checkpoints, the
event log) lives under ``.perfbench_tmp/<pid>`` and is removed when the
run ends; directories left by killed runs are removed at start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TMP_ROOT = os.path.join(ROOT, ".perfbench_tmp")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
PROGRAM_FILES = ("graphjet_spark/session.py", "__spark_entry__.py",
                 "tools/mirror_check.py", "jobs/serve_ingest_bench.py")
# driver heap: a run peaks at about 3.5 GB with its Python workers,
# well inside a 4-core, 15 GB box
DRIVER_MEM = "4g"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _clear_stale_roots() -> None:
    if not os.path.isdir(TMP_ROOT):
        return
    for name in os.listdir(TMP_ROOT):
        if not (name.isdigit() and _alive(int(name))):
            shutil.rmtree(os.path.join(TMP_ROOT, name), ignore_errors=True)


class Run:
    """One workload run: its settings, temp root and Spark session."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        self.tmp = os.path.join(TMP_ROOT, str(os.getpid()))
        self.event_dir = os.path.join(self.tmp, "eventlog")
        self.spark = None
        self.session_s = 0.0
        self._tags: list[str] = []

    def start_session(self) -> None:
        local = os.path.join(self.tmp, "spark-local")
        os.makedirs(local)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
        os.environ["SPARK_LOCAL_DIRS"] = local
        # HotSpot writes its perf counters to /tmp whatever java.io.tmpdir says
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        for knob in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE"):
            os.environ.pop(knob, None)  # engine defaults, not the caller's
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
        }
        if self.trace:
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        from graphjet_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        self.session_s = time.perf_counter() - t0

    @contextmanager
    def layer(self, name: str, walls: dict | None = None):
        """Time the block into ``walls[name]`` and tag its Spark jobs
        with the job group ``<enclosing layers>/<name>``."""
        sc = self.spark.sparkContext
        self._tags.append(name)
        tag = "/".join(self._tags)
        sc.setJobGroup(tag, tag)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if walls is not None:
                walls[name] = time.perf_counter() - t0
            self._tags.pop()
            if self._tags:
                parent = "/".join(self._tags)
                sc.setJobGroup(parent, parent)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def stop(self) -> None:
        """Stop Spark, then the driver JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _traced_layers(run: Run, res) -> tuple[dict[str, float], list[str]]:
    """The per-layer values of a traced run, and the names of the
    metrics its workload exercises but the run could not produce."""
    import eventlog
    import layers

    (log,) = os.listdir(run.event_dir)
    path = os.path.join(run.event_dir, log)
    t0 = time.perf_counter()
    summaries = eventlog.parse(path, run.cores)
    parse_s = time.perf_counter() - t0

    def med(groups: list[str], key: str) -> float | None:
        vals = [summaries[g][key] for g in groups if g in summaries]
        return float(statistics.median(vals)) if vals else None

    out = dict(res.layers)
    for prefix, groups in res.groups.items():
        if prefix == "udf":
            keys = {k: k for k in layers.UDF}
        elif prefix.startswith("plans."):
            keys = {f"{prefix}.{k}": k for k in layers.ALG_FIXED + layers.ALG_EDGE}
        else:
            keys = {f"{prefix}.executor_cpu_s": "executor_cpu_s"}
        for name, key in keys.items():
            value = med(groups, key)
            if value is not None:
                out.setdefault(name, value)

    untraced = os.path.join(OUT_DIR, f"{run.workload}.json")
    if os.path.exists(untraced):
        with open(untraced, encoding="utf-8") as fh:
            base = json.load(fh)["metrics"]["job_s"]["value"]
        out["trace.overhead_share"] = res.e2e["job_s"] / base - 1.0
    out.update({
        "trace.job_s": res.e2e["job_s"],
        "trace.eventlog_mb": os.path.getsize(path) / (1 << 20),
        "trace.parse_s": parse_s,
    })
    missing = [m for m, (_, where) in layers.LAYERS.items()
               if run.workload in where and m not in out]
    return out, missing


def run_workload(workload: str, seed: int, seconds: float, trace: bool) -> int:
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program sources missing: {', '.join(missing)}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import procmem
    import workloads

    spec = _spec()
    _clear_stale_roots()
    run = Run(workload, seed, seconds, trace)
    os.makedirs(run.tmp)
    tempfile.tempdir = run.tmp
    os.environ["TMPDIR"] = run.tmp
    try:
        with procmem.PssSampler() as mem:
            try:
                res = workloads.WORKLOADS[workload](run)
            finally:
                run.stop()
        res.layers["mem.jvm_pss_peak_mb"] = mem.jvm_peak_mb
        res.layers["mem.python_pss_peak_mb"] = mem.python_peak_mb
        if trace:
            values, missing = _traced_layers(run, res)
            # a layer the workload exercises but the trace lacks fails
            # the run rather than reading 0
            res.checks["traced_layers_complete"] = not missing
            for m in missing:
                print(f"perfbench: no value for {m}", file=sys.stderr)
            metrics = spec["per_layer"]
        else:
            values = res.e2e
            metrics = spec["end_to_end"]
            res.checks["end_to_end_complete"] = all(
                m["name"] in values for m in metrics
            )
    finally:
        shutil.rmtree(run.tmp, ignore_errors=True)

    report = {
        "correct": all(res.checks.values()),
        "attempted": res.attempted,
        "failed": res.failed,
        # a per-layer metric of a layer the workload does not exercise
        # reads 0
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in metrics
        },
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    # the layers timed from outside the engine cost nothing to keep
    saved = dict(report, workload=workload, seed=seed, checks=res.checks,
                 layers=res.layers)
    name = f"{workload}.layers.json" if trace else f"{workload}.json"
    with open(os.path.join(OUT_DIR, name), "w", encoding="utf-8") as fh:
        json.dump(saved, fh, indent=1, sort_keys=True)
    for check, ok in sorted(res.checks.items()):
        print(f"check {check}: {'ok' if ok else 'FAILED'}", file=sys.stderr)
    print(json.dumps(report), flush=True)
    return 0 if report["correct"] else 1


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced, then traced; print the end-to-end
    metrics and the tracing overhead."""
    spec = _spec()
    status = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                 "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w['name']} trace={trace}: FAILED (exit {proc.returncode})")
                status = 1
                continue
            report = json.loads(lines[-1])
            if trace:
                m = report["metrics"]
                print(f"{w['name']:14s} tracing overhead "
                      f"{m['trace.overhead_share']['value']:+.1%} "
                      f"(traced job_s {m['trace.job_s']['value']:.4g} s), "
                      f"layers in .perfbench_out/{w['name']}.layers.json")
                continue
            for name, m in report["metrics"].items():
                print(f"{w['name']:14s} {name:14s} {m['value']:12.6g} {m['unit']}")
            print(f"{w['name']:14s} failed {report['failed']} of "
                  f"{report['attempted']} attempted")
    print("all checks passed" if status == 0 else "SOME RUNS FAILED")
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description="linkgraph engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        spec = _spec()
    except FileNotFoundError:
        print("perfbench: BENCHMARK.json not found", file=sys.stderr)
        return 2
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    if a.workload == "all":
        return run_all(a.seed, seconds)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    return run_workload(a.workload, a.seed, seconds, bool(a.trace))


if __name__ == "__main__":
    raise SystemExit(main())
