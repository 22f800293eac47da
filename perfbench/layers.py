"""Which per-layer metric explains which end-to-end metric, and where.

``LAYERS`` maps every per-layer metric in BENCHMARK.json to the
end-to-end metrics it should move and the workloads that exercise the
layer.  A traced run reports each metric of its workload's layers; a
layer the workload does not exercise reads 0.  A traced run that cannot
produce a metric its workload exercises fails instead of reporting 0.

The end-to-end metrics are the same on every workload (see
run.py); what "the job" and "an operation" are depends on the workload.
"""

from __future__ import annotations

ALL = ("web-skewed", "serve-ingest")
WEB = ("web-skewed",)
SERVE = ("serve-ingest",)

ALGORITHMS = ("pagerank", "components", "labelprop", "triangles")
# the queries serve-ingest serves (workloads._serving_mix); its traced
# run fails if a query here has no refresh to measure
SERVING_MIX = ("top_second_degree_by_count", "social_proof",
               "metadata_recs_ptype", "trending_nodes")
# wall, job/task counts and core use show fixed per-superstep cost; the
# rest shows per-edge work and skew
ALG_FIXED = ("wall_s", "jobs", "tasks", "core_busy_frac")
ALG_EDGE = ("executor_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
            "fetch_wait_s", "spill_mb", "task_skew")
UDF = ("udf.python_run_s", "udf.python_start_s",
       "udf.bytes_to_python_mb", "udf.bytes_from_python_mb")
STREAMING = ("streaming.batches", "streaming.trigger_p50_ms",
             "streaming.add_batch_ms", "streaming.planning_ms",
             "streaming.commit_ms")
SERVE_LAYERS = ("serve.p99_ms", "serve.hit_p50_ms", "serve.hit_p99_ms",
                "serve.hits_over_100ms_share", "serve.refresh_p50_ms",
                "serve.refreshes")

LAYERS: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    "session.start_s": (("setup_s",), ALL),
    "sources.star_schema_s": (("setup_s",), SERVE),
    "sources.synth_pages_s": (("setup_s",), ALL),
    "plans.context.graph_tables_s": (("job_s",), WEB),
    "warmup_s": (("setup_s",), ALL),
}
for _alg in ALGORITHMS:
    for _f in ALG_FIXED + ALG_EDGE:
        LAYERS[f"plans.{_alg}.{_f}"] = (("job_s",), WEB)
LAYERS["plans.pagerank.s_per_superstep"] = (("edges_per_s",), WEB)
LAYERS.update({
    "build_edges.wall_s": (("job_s",), WEB),
    "build_edges.edges_per_s": (("job_s",), WEB),
    "build_edges.executor_cpu_s": (("job_s",), WEB),
})
for _m in UDF:
    LAYERS[_m] = (("job_s", "edges_per_s"), ALL)
for _m in STREAMING:
    LAYERS[_m] = (("edges_per_s", "job_s"), SERVE)
LAYERS["streaming.executor_cpu_s"] = (("edges_per_s",), SERVE)
# serving latency has no end-to-end metric (see run.py); a refresh holds
# the server's compute lock and takes cores from the ingest
for _m in SERVE_LAYERS:
    LAYERS[_m] = ((), SERVE)
for _q in SERVING_MIX:
    LAYERS[f"operators.{_q}.refresh_s"] = (("edges_per_s",), SERVE)
    LAYERS[f"operators.{_q}.executor_cpu_s"] = (("edges_per_s",), SERVE)
LAYERS["load.lag_p99_ms"] = ((), SERVE)
# peak memory explains no end-to-end metric: the JVM's heap high-water
# mark follows GC timing too closely to bound
LAYERS["mem.jvm_pss_peak_mb"] = ((), ALL)
LAYERS["mem.python_pss_peak_mb"] = ((), ALL)
# tracing itself: how much the event log costs and how big it gets.
# The overhead needs an untraced run of the workload saved in the same
# checkout and reads 0 without one.
for _m in ("trace.job_s", "trace.eventlog_mb", "trace.parse_s"):
    LAYERS[_m] = ((), ALL)
LAYERS["trace.overhead_share"] = (("job_s",), ())
