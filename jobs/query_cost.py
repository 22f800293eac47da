"""Wall time and Spark job count of named ``queries()`` entries after
the shared GraphTables build: each query is called twice, cold (first
call in the process) and warm.  The entry module's memoized results
(its ``*_CACHE`` dicts: CC labels, the landmark index, the keep-list)
are dropped before each call, so the warm call runs the query too.

    PYTHONPATH=. python jobs/query_cost.py SF_DIR NAME [NAME ...]

Prints one JSON object: per query, the cold and warm walls (result
collected) and the jobs of the warm call.  Alternate runs of two
checkouts in separate processes to compare them
(BENCH/RUNNER_FAMILY_AB.json was made this way).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir, names = sys.argv[1], sys.argv[2:]

    import __spark_entry__ as entry
    from graphjet_spark.session import get_spark

    spark = get_spark("query_cost", extra_conf={"spark.ui.showConsoleProgress": "false"})
    sc = spark.sparkContext
    queries = entry.queries()
    entry._tables(spark, sf_dir, "graph_edges").pairs.count()  # shared build
    caches = [v for k, v in vars(entry).items() if k.endswith("_CACHE")]
    out = {}
    for name in names:
        res = out[name] = {}
        for call in ("cold", "warm"):
            for cache in caches:
                cache.clear()
            group = f"{name}-{call}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            res["rows"] = len(queries[name](spark, sf_dir).toPandas())
            res[f"{call}_s"] = time.perf_counter() - t0
        res["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
