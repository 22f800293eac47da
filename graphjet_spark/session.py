"""SparkSession factory tuned for the link-graph engine.

Design notes (scale-first):
- AQE on for every one-shot plan: runtime join re-planning, partition
  coalescing and skew-join splitting.  The co-partitioned superstep
  loops (PageRank, CC, LP, grouped PPR) are the exception: they plan
  statically in their own child session (plans/superstep.py), because
  under AQE a lazy ``localCheckpoint`` drops the state's hash
  partitioning and every exchange runs as its own Spark job (measured:
  110 jobs for 10 PageRank supersteps), and the broadcast threshold
  below would ship the state every superstep.
- Arrow on: every Python-side kernel in this engine is a vectorized
  pandas/Arrow UDF (no per-row Python anywhere — see BASELINE.json
  input_hint).
- shuffle.partitions sized to cores for local mode; a real cluster run
  would set this ~2-3x total cores and rely on AQE coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_spark(
    app_name: str = "graphjet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    in this sandbox; on a real cluster the submitter sets the master and
    this factory only contributes SQL/Arrow conf.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    # Multi-executor profile (SPARK_GRAFT_MASTER=local-cluster[2,4,4096]
    # or a real cluster URL): separate executor JVMs + one Python worker
    # pool per executor, exercising cross-JVM shuffle, closure
    # serialization and broadcast distribution — the axes plain local[N]
    # cannot.  For local-cluster the bracketed memory field is per
    # executor in MB; spark.executor.memory must agree or the worker
    # rejects the executor allocation.
    executor_mem_mb: int | None = None
    if master.startswith("local-cluster["):
        try:
            executor_mem_mb = int(master.rstrip("]").split(",")[2])
        except (IndexError, ValueError):
            executor_mem_mb = None

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Measured on this box: oversized heaps (48g) stall high-thread
        # local runs with GC (64s -> 26s on a 15M-edge superstep batch
        # just by dropping 48g -> 8g). 12g covers every sf tier here.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        # Iterative supersteps churn localCheckpoint blocks: a dropped
        # round's blocks are only released after a full GC lets the
        # ContextCleaner enqueue the dead RDD, and Spark's default
        # periodic-GC interval is 30min — long superstep loops allocate
        # round-state faster than that at web scale (measured: star-CC
        # at 195M edges OOM'd a 48g heap on accumulated round
        # snapshots; the same fix GraphFrames documents for its CC).
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if executor_mem_mb is not None:
        builder = builder.config("spark.executor.memory", f"{executor_mem_mb}m")
    if not master.startswith("local[") and not master.startswith("local "):
        # Executor-side Python workers are separate processes under
        # separate JVMs: they inherit the WORKER's environment, not the
        # driver's sys.path, so the engine package (and any repo module
        # a pickled closure references) must reach them via PYTHONPATH
        # (the session-factory equivalent of spark-submit --py-files;
        # found the hard way — cogrouped-Arrow kernels and RDD sink
        # closures died with ModuleNotFoundError under local-cluster
        # while every plain-column plan sailed through).
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pypath = os.environ.get("PYTHONPATH", "")
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            repo_root + (os.pathsep + pypath if pypath else ""),
        )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        # tmpfs shuffle dirs: local-mode shuffles are disk-bound well
        # before CPU at high thread counts (a real cluster spreads this
        # across executors' local disks)
        builder = builder.config("spark.local.dir", local_dir)
    if not SparkSession.getActiveSession():
        builder = builder.master(master)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
