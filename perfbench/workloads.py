"""The benchmark's workloads.

Each workload function takes a ``Run`` (see run.py) and returns a
``Result``: the end-to-end metric values, per-layer values timed from
outside the engine, the named correctness checks, the operation counts,
and which Spark job groups make up each traced layer.  Every call into
the engine runs inside ``run.layer(name)``, which times it and tags its
Spark jobs with a job group (nested layers join names with ``/``), so
the traced run can split the event log the same way.

An operation is one engine call of the timed job on web-skewed and one
HTTP request on serve-ingest.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import eventlog
import inputs

PR_ITERS = 10
LP_ITERS = 5
INPUT_REPS = 3
WEB_PAGES = 4_000
WEB_FILES = 8
INGEST_PAGES = 3_500
INGEST_FILES = 32
FILES_PER_TRIGGER = 2
RATE = 100.0
FRESH_EVERY = 1000
# salsa_subgraph_det takes about 17 s to compute cold and 10 s warm on 4
# cores, which with its warm-up and check would add about 27 s to every
# serve-ingest run; the benchmark serves the rest of the mix
SKIPPED_QUERIES = ("salsa_subgraph_det",)
LIMIT = 20
MAX_LIMIT = 10_000
TIMEOUT_S = 10.0
DRAIN_TIMEOUT_S = 120.0
LATENCY_LIMIT_MS = 100.0
ALGORITHMS = ("pagerank", "components", "labelprop", "triangles")


@dataclass
class Result:
    e2e: dict[str, float]
    layers: dict[str, float]
    checks: dict[str, bool]
    attempted: int
    failed: int = 0
    # traced layer prefix -> job groups whose event-log summaries it
    # takes the median of
    groups: dict[str, list[str]] = field(default_factory=dict)


def _median_timed(fn, reps: int):
    walls, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), out


def _pct(values, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return float(s[min(len(s) - 1, max(0, int(np.ceil(q * len(s))) - 1))])


def _star_schema(run, seed: int) -> tuple[float, str]:
    sf_dir = os.path.join(run.tmp, "sf")

    def make():
        shutil.rmtree(sf_dir, ignore_errors=True)
        inputs.write_star_schema(sf_dir, seed)

    wall, _ = _median_timed(make, INPUT_REPS)
    return wall, sf_dir


def _synth_corpus(run, n_pages: int, files: int):
    from graphjet_spark.sources.pages import CorpusSpec, synthesize_pages

    pages_dir = os.path.join(run.tmp, "pages")

    def make():
        shutil.rmtree(pages_dir, ignore_errors=True)
        pdf, true_links = synthesize_pages(
            CorpusSpec(n_pages, seed=run.seed, n_components=4)
        )
        inputs.stage_pages(pdf, pages_dir, files)
        return true_links

    wall, true_links = _median_timed(make, INPUT_REPS)
    return wall, pages_dir, true_links


# --------------------------------------------------------------------------
# web-skewed: pages -> edges -> GraphTables -> the four-algorithm batch


def _batch(run, pairs, walls: dict) -> dict:
    """PageRank, CC, LP and triangles over ``pairs``, one after another.
    Every result is collected inside its timed call."""
    from graphjet_spark.plans.components import connected_components
    from graphjet_spark.plans.labelprop import label_propagation
    from graphjet_spark.plans.pagerank import pagerank
    from graphjet_spark.plans.triangles import triangle_count

    spark = run.spark
    out: dict = {}
    with run.layer("plans.pagerank", walls):
        out["pagerank"] = pagerank(spark, pairs, fixed_iters=PR_ITERS).toPandas()
    with run.layer("plans.components", walls):
        out["components"] = connected_components(spark, pairs).toPandas()
    with run.layer("plans.labelprop", walls):
        out["labelprop"] = label_propagation(spark, pairs, iters=LP_ITERS).toPandas()
    with run.layer("plans.triangles", walls):
        out["triangles"] = int(triangle_count(spark, pairs).collect()[0][0])
    return out


def _repeat(run, job) -> list[dict]:
    """Run ``job(walls)`` as ``batch<i>`` until ``run.seconds`` have
    passed, at least once.  Each output gets the batch's ``walls``."""
    outs: list[dict] = []
    deadline = time.perf_counter() + run.seconds
    while not outs or time.perf_counter() < deadline:
        tag, walls = f"batch{len(outs)}", {}
        with run.layer(tag, walls):
            out = job(walls)
        out["job_s"] = walls.pop(tag)
        out["wall"] = walls
        outs.append(out)
    return outs


def _check_algorithms(res: dict, pairs) -> dict[str, bool]:
    """Each algorithm against its numpy mirror (tools/mirror_check.py)."""
    import mirror_check as mc

    p = pairs.toPandas()
    uids, srci, dsti = mc._compact(
        p["src"].to_numpy(np.int64), p["dst"].to_numpy(np.int64)
    )

    def scattered(df, col, fill):
        arr, err = mc._scatter(uids, df["id"].to_numpy(), df[col].to_numpy(), fill)
        return None if err is not None or len(df) != len(uids) else arr

    checks = {}
    pr = scattered(res["pagerank"], "pagerank", np.nan)
    want_pr = mc.mirror_pagerank(uids, srci, dsti, PR_ITERS)
    checks["pagerank_mirror"] = pr is not None and float(
        np.abs(pr - want_pr).max()
    ) < 1e-6
    cc = scattered(res["components"], "component", np.int64(-1))
    checks["components_mirror"] = cc is not None and bool(
        (cc == mc.mirror_cc(uids, srci, dsti)).all()
    )
    lp = scattered(res["labelprop"], "label", np.int64(-1))
    checks["labelprop_mirror"] = lp is not None and bool(
        (lp == mc.mirror_lp(uids, srci, dsti, LP_ITERS)).all()
    )
    checks["triangles_mirror"] = res["triangles"] == mc.mirror_triangles(
        uids, srci, dsti
    )
    return checks


def _pipeline(run, pages_paths, walls: dict) -> dict:
    """build_edges -> simple_graph -> GraphTables -> the batch."""
    from graphjet_spark.plans.build_edges import build_edges, simple_graph
    from graphjet_spark.plans.context import GraphTables

    out: dict = {}
    with run.layer("build_edges", walls):
        links = build_edges(run.spark.read.parquet(*pages_paths)).localCheckpoint(
            eager=True
        )
        out["n_links"] = links.count()
    with run.layer("plans.context", walls):
        pairs = GraphTables(simple_graph(links)).pairs
        out["n_edges"] = pairs.count()
    out.update(_batch(run, pairs, walls))
    out["links"], out["pairs"] = links, pairs
    return out


def web_skewed(run):
    """Seeded page corpus -> edges -> the batch, repeatedly, after one
    warm-up pass over the first staged file."""
    run.start_session()
    synth_s, pages_dir, true_links = _synth_corpus(run, WEB_PAGES, WEB_FILES)
    setup: dict[str, float] = {}
    first = os.path.join(pages_dir, sorted(os.listdir(pages_dir))[0])
    with run.layer("warmup", setup):
        _pipeline(run, [first], {})

    batches = _repeat(run, lambda walls: _pipeline(run, [pages_dir], walls))
    b0 = batches[0]
    cols = ["src_url", "dst_url"]
    with run.layer("check"):
        got = b0["links"].select(*cols).toPandas().sort_values(cols)
        want = true_links[cols].sort_values(cols)
        checks = {
            "edges_equal_true_links": bool(
                got.reset_index(drop=True).equals(want.reset_index(drop=True))
            ),
            "simple_graph_is_distinct_links": b0["n_edges"]
            == len(want.drop_duplicates()),
        }
        checks.update(_check_algorithms(b0, b0["pairs"]))

    med = lambda f: statistics.median(f(b) for b in batches)  # noqa: E731
    pr_wall = med(lambda b: b["wall"]["plans.pagerank"])
    ops = ("build_edges", "plans.context") + tuple(f"plans.{a}" for a in ALGORITHMS)
    e2e = {
        "setup_s": run.session_s + synth_s + setup["warmup"],
        "job_s": med(lambda b: b["job_s"]),
        "edges_per_s": b0["n_edges"] * PR_ITERS / pr_wall,
    }
    build_s = med(lambda b: b["wall"]["build_edges"] + b["wall"]["plans.context"])
    layers = {
        "session.start_s": run.session_s,
        "sources.synth_pages_s": synth_s,
        "warmup_s": setup["warmup"],
        "plans.context.graph_tables_s": med(lambda b: b["wall"]["plans.context"]),
        "plans.pagerank.s_per_superstep": pr_wall / PR_ITERS,
        "build_edges.wall_s": med(lambda b: b["wall"]["build_edges"]),
        "build_edges.edges_per_s": b0["n_links"] / build_s,
        # the input's shape, kept with the saved layers
        "graph.link_rows": float(b0["n_links"]),
        "graph.edges": float(b0["n_edges"]),
        "graph.hub_share": float(
            want["dst_url"].value_counts().iloc[0] / len(want)
        ),
    }
    for alg in ALGORITHMS:
        layers[f"plans.{alg}.wall_s"] = med(lambda b: b["wall"][f"plans.{alg}"])
    tags = [f"batch{i}" for i in range(len(batches))]
    groups = {name: [f"{t}/{name}" for t in tags] for name in ops}
    groups["udf"] = groups["build_edges"]
    return Result(e2e, layers, checks, attempted=len(ops) * len(batches),
                  groups=groups)


# --------------------------------------------------------------------------
# serve-ingest: open-loop serving mix while the streaming ingest drains


def _serving_mix() -> list[str]:
    """jobs/serve_ingest_bench.py's serving mix without SKIPPED_QUERIES."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs"))
    from serve_ingest_bench import SERVING_MIX

    return [q for q in SERVING_MIX if q not in SKIPPED_QUERIES]


def _tagged_registry(mix: list[str]) -> tuple[dict, dict]:
    """The serving mix's registry callables, each wrapped so every
    computation the server starts runs under the job group
    ``serve.<query>.<k>`` (k = 0 is the first, warm-up computation)."""
    import __spark_entry__ as entry

    registry = entry.queries()
    counts: dict[str, int] = {}

    def wrap(name, fn):
        def call(spark, sf_dir):
            k = counts[name] = counts.get(name, -1) + 1
            spark.sparkContext.setJobGroup(f"serve.{name}.{k}", name)
            return fn(spark, sf_dir)

        return call

    return {n: wrap(n, registry[n]) for n in mix}, registry


def _drain(run, pages_dir: str, tag: str) -> dict:
    """Run the streaming ingest over every staged file, exactly once,
    and count what it appended.  A query that does not finish within
    DRAIN_TIMEOUT_S is stopped and reported as not drained."""
    from graphjet_spark.streaming import ingest

    out_dir = os.path.join(run.tmp, f"edges_{tag}")
    ck_dir = os.path.join(run.tmp, f"ck_{tag}")
    stream = ingest.edge_stream(
        ingest.stream_pages(
            run.spark, pages_dir, max_files_per_trigger=FILES_PER_TRIGGER
        )
    )
    t0 = time.perf_counter()
    q = ingest.write_edge_segments(stream, out_dir, ck_dir)
    drained = bool(q.awaitTermination(DRAIN_TIMEOUT_S))
    wall = time.perf_counter() - t0
    if not drained:
        q.stop()
    # pyspark 4 returns progress objects; older versions plain dicts
    progress = [
        json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress
    ]
    with run.layer("check"):
        rows = ingest.read_edges(run.spark, out_dir).count() if drained else 0
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ck_dir, ignore_errors=True)
    return {"drained": drained, "wall": wall, "rows": rows,
            "progress": progress, "group": f"streaming:{q.id}"}


def _warm_drain(run, pages_dir: str) -> bool:
    """Drain the first trigger's worth of files once, so the timed drain
    does not pay the streaming and UDF paths' first-use cost."""
    warm_dir = os.path.join(run.tmp, "pages_warm")
    os.makedirs(warm_dir)
    for f in sorted(os.listdir(pages_dir))[:FILES_PER_TRIGGER]:
        shutil.copy(os.path.join(pages_dir, f), warm_dir)
    return _drain(run, warm_dir, "warm")["drained"]


def _get(port: int, name: str) -> dict:
    import urllib.request

    url = f"http://127.0.0.1:{port}/query/{name}?limit={LIMIT}"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def _canon(rows) -> list[str]:
    return sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)


def _load(run, port: int, mix: list[str], out_path: str, pages_dir: str):
    """The open-loop load generator against ``port`` while the ingest
    drains ``pages_dir``.  Returns (drain, requests, loadgen ok)."""
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
         "--port", str(port), "--queries", ",".join(mix),
         "--rate", str(RATE), "--seconds", str(run.seconds),
         "--threads", str(run.cores), "--seed", str(run.seed),
         "--fresh-every", str(FRESH_EVERY), "--limit", str(LIMIT),
         "--timeout", str(TIMEOUT_S), "--out", out_path],
    )
    try:
        drain = _drain(run, pages_dir, "timed")
    finally:
        try:
            gen.wait(timeout=run.seconds + DRAIN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            gen.kill()
            gen.wait()
    ok = gen.returncode == 0
    reqs = []
    if ok:
        with open(out_path, encoding="utf-8") as fh:
            reqs = json.load(fh)["requests"]
    return drain, reqs, ok


def serve_ingest(run):
    """The serving mix, materialized and warmed, under an open-loop load
    from its own process while the streaming ingest drains the corpus."""
    from graphjet_spark.serve import QueryServer, _jsonable

    mix = _serving_mix()
    run.start_session()
    schema_s, sf_dir = _star_schema(run, run.seed)
    synth_s, pages_dir, true_links = _synth_corpus(run, INGEST_PAGES, INGEST_FILES)

    registry, raw = _tagged_registry(mix)
    srv = QueryServer(run.spark, sf_dir, registry=registry, materialize=True,
                      max_limit=MAX_LIMIT)
    srv.start()
    walls: dict[str, float] = {}
    try:
        with run.layer("warmup", walls):
            for name in mix:
                _get(srv.port, name)
            warm_ok = _warm_drain(run, pages_dir)

        drain, reqs, gen_ok = _load(
            run, srv.port, mix, os.path.join(run.tmp, "load.json"), pages_dir
        )
        checks = {
            "warmup_ingest_drained": warm_ok,
            "ingest_drained": drain["drained"],
            "ingest_rows_equal_links": drain["rows"] == len(true_links),
            "loadgen_exit_0": gen_ok,
        }
        # each query recomputed directly: the served rows must match it,
        # and its wall is the operator's refresh cost without the load
        with run.layer("check"):
            for name in mix:
                served = _get(srv.port, name)["rows"]
                with run.layer(f"operators.{name}", walls):
                    direct = raw[name](run.spark, sf_dir).limit(MAX_LIMIT).collect()
                checks[f"served_equals_direct.{name}"] = _canon(served) == _canon(
                    [{k: _jsonable(v) for k, v in r.asDict().items()}
                     for r in direct[:LIMIT]]
                )
    finally:
        srv.stop()

    # a request the generator never recorded, or every request if it
    # died, failed
    lost = [0.0, TIMEOUT_S * 1e3, "error", 0, ""]
    reqs = [r or lost for r in reqs] or [lost] * int(RATE * run.seconds)
    # a failed request misses every latency limit: count it as at
    # least the client timeout
    lat_of = lambda r: r[1] if r[2] == "ok" else max(r[1], TIMEOUT_S * 1e3)  # noqa: E731
    hits = [lat_of(r) for r in reqs if not r[3]]
    fresh = [lat_of(r) for r in reqs if r[3]]
    e2e = {
        "setup_s": run.session_s + schema_s + synth_s + walls["warmup"],
        "job_s": drain["wall"],
        "edges_per_s": drain["rows"] / drain["wall"],
    }
    layers = {
        "session.start_s": run.session_s,
        "sources.synth_pages_s": synth_s,
        "sources.star_schema_s": schema_s,
        "warmup_s": walls["warmup"],
        "serve.p99_ms": _pct([lat_of(r) for r in reqs], 0.99),
        "serve.hit_p50_ms": _pct(hits, 0.50),
        "serve.hit_p99_ms": _pct(hits, 0.99),
        "serve.hits_over_100ms_share": sum(h > LATENCY_LIMIT_MS for h in hits)
        / len(hits),
        "serve.refreshes": float(len(fresh)),
        "load.lag_p99_ms": _pct([r[0] for r in reqs], 0.99),
    }
    if fresh:
        layers["serve.refresh_p50_ms"] = _pct(fresh, 0.50)
    for name in mix:
        layers[f"operators.{name}.refresh_s"] = walls[f"operators.{name}"]
    for st, v in eventlog.stream_summary(drain["progress"]).items():
        layers[f"streaming.{st}"] = v
    groups = {f"operators.{n}": [f"check/operators.{n}"] for n in mix}
    groups["streaming"] = groups["udf"] = [drain["group"]]
    failed = sum(r[2] != "ok" for r in reqs)
    return Result(e2e, layers, checks, len(reqs), failed, groups)


WORKLOADS = {
    "web-skewed": web_skewed,
    "serve-ingest": serve_ingest,
}
