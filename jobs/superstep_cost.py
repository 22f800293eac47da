"""Two-point superstep cost probe: warm walls and Spark job counts of
PageRank (10 supersteps), CC (to fixpoint) and LP (5 supersteps) on a
small and a web-sized graph from the web-skewed pipeline (seeded page
corpus -> build_edges -> simple_graph -> GraphTables.pairs).

    PYTHONPATH=. python jobs/superstep_cost.py [--reps 3] [--seed 2]

Prints one JSON object: per graph, its edge count and per loop the
median wall, every wall and the jobs of one call (result collect
included).  Alternate runs of two checkouts in separate processes to
compare them; BENCH/BASELINE.md has the two-point model it feeds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GRAPHS = (("small", 45), ("web", 4000))  # pages: 309 and 113,023 edges


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--seed", type=int, default=2)
    args = ap.parse_args()

    from graphjet_spark.plans.build_edges import build_edges, simple_graph
    from graphjet_spark.plans.components import connected_components
    from graphjet_spark.plans.context import GraphTables
    from graphjet_spark.plans.labelprop import label_propagation
    from graphjet_spark.plans.pagerank import pagerank
    from graphjet_spark.session import get_spark
    from graphjet_spark.sources.pages import CorpusSpec, synthesize_pages

    spark = get_spark("superstep_cost", extra_conf={"spark.ui.showConsoleProgress": "false"})
    sc = spark.sparkContext
    out = {}
    with tempfile.TemporaryDirectory() as tmp:
        for label, pages in GRAPHS:
            pdf, _ = synthesize_pages(CorpusSpec(pages, seed=args.seed, n_components=4))
            path = os.path.join(tmp, label)
            spark.createDataFrame(pdf).write.parquet(path)
            links = build_edges(spark.read.parquet(path)).localCheckpoint(eager=True)
            pairs = GraphTables(simple_graph(links)).pairs
            res = {"edges": pairs.count()}
            loops = {
                "pagerank": lambda: pagerank(spark, pairs, fixed_iters=10),
                "components": lambda: connected_components(spark, pairs),
                "labelprop": lambda: label_propagation(spark, pairs, iters=5),
            }
            for name, loop in loops.items():
                loop().toPandas()  # warm-up
                walls, jobs = [], 0
                for rep in range(args.reps):
                    group = f"superstep_cost-{label}-{name}-{rep}"
                    sc.setJobGroup(group, group)
                    t0 = time.perf_counter()
                    loop().toPandas()
                    walls.append(time.perf_counter() - t0)
                    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                sc.setLocalProperty("spark.jobGroup.id", None)
                res[name] = {"wall_med": statistics.median(walls), "walls": walls, "jobs": jobs}
            out[label] = res
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
