"""Serving throughput CONCURRENT with streaming ingest — the honest
twin of the reference's headline claim.

GraphJet's README (reference README.md:14-19) claims ~1M edge
insertions/s sustained on one server WHILE serving up to 500
recommendation requests/s from the same graph.  `jobs/serve_bench.py`
measured the serve side alone (542-562 req/s); this job runs BOTH at
once on one SparkSession, the way the reference runs them:

- the full streaming ingest path (file stream -> Arrow-batched link
  extraction -> exactly-once segment append, streaming/ingest.py)
  drains a pre-staged pages corpus as fast as it can;
- the serving mix (5 recommendation-shaped queries, materialized
  read path) is hammered by concurrent client threads the whole time.

Reported: sustained req/s DURING ingest, the p50/p99 latency of the
answered client requests (closed loop: each thread sends its next
request when the previous one returns; failures are counted in
``errors``), ingest edges/s (link
occurrences appended / drain seconds — the same unit as the
reference's 1M/s), and, as a second never-before-reported headline,
the solo BATCH edge-build rate over the same corpus (pages ->
extract_link_rows -> typed edge rows materialized to a noop count).

    python jobs/serve_ingest_bench.py [n_pages] [seconds] [threads]

One JSON line to stdout; BENCH/BASELINE.md cites it by hand.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from graphjet_spark.serve import QueryServer  # noqa: E402
from graphjet_spark.session import get_spark  # noqa: E402
from graphjet_spark.sources.pages import CorpusSpec, synthesize_pages  # noqa: E402
from graphjet_spark.streaming import ingest  # noqa: E402

SERVING_MIX = [
    "top_second_degree_by_count",
    "salsa_subgraph_det",
    "social_proof",
    "metadata_recs_ptype",
    "trending_nodes",
]


def _stage_pages(pdf, pages_dir: str, files: int) -> None:
    os.makedirs(pages_dir, exist_ok=True)
    n = len(pdf)
    per = -(-n // files)
    for i in range(files):
        chunk = pdf.iloc[i * per : (i + 1) * per]
        if len(chunk) == 0:
            break
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            os.path.join(pages_dir, f"wave_{i:04d}.parquet"),
        )


def main() -> int:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    max_seconds = float(sys.argv[2]) if len(sys.argv) > 2 else 240.0
    threads = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

    spark = get_spark("serve_ingest_bench")
    import __spark_entry__ as entry_mod

    t0 = time.time()
    pdf, true_links = synthesize_pages(CorpusSpec(n_pages, n_components=4))
    synth_s = time.time() - t0
    n_links = len(true_links)

    work = tempfile.mkdtemp(prefix="serve_ingest_")
    pages_dir = os.path.join(work, "pages")
    out_dir = os.path.join(work, "edges")
    ck_dir = os.path.join(work, "ck")
    t0 = time.time()
    _stage_pages(pdf, pages_dir, files=32)
    stage_s = time.time() - t0

    # ---- serve side: warm the 5-query mix (materialized read path) --
    registry = {
        k: v for k, v in entry_mod.queries().items() if k in SERVING_MIX
    }
    srv = QueryServer(
        spark, sf_dir, registry=registry, materialize=True
    ).start()
    base = f"http://127.0.0.1:{srv.port}"
    for name in SERVING_MIX:
        with urllib.request.urlopen(f"{base}/query/{name}?limit=20") as r:
            assert json.load(r)["n"] >= 0

    # ---- fire ingest + clients together -----------------------------
    stream = ingest.edge_stream(
        ingest.stream_pages(spark, pages_dir, max_files_per_trigger=8),
        segment_seconds=60,
    )
    stop_flag = threading.Event()
    counts = [0] * threads
    errs = [0] * threads
    latencies: list[list[float]] = [[] for _ in range(threads)]

    def client(i: int) -> None:
        j = i
        while not stop_flag.is_set():
            name = SERVING_MIX[j % len(SERVING_MIX)]
            j += 1
            t = time.perf_counter()
            try:
                with urllib.request.urlopen(
                    f"{base}/query/{name}?limit=20", timeout=10
                ) as r:
                    if json.load(r)["n"] >= 0:
                        counts[i] += 1
                        latencies[i].append((time.perf_counter() - t) * 1000.0)
            except Exception:
                errs[i] += 1

    ts = [threading.Thread(target=client, args=(i,)) for i in range(threads)]
    t0 = time.time()
    q = ingest.write_edge_segments(stream, out_dir, ck_dir)
    for t in ts:
        t.start()
    # availableNow drains every staged file exactly-once, then stops
    drained = q.awaitTermination(max_seconds)
    drain_s = time.time() - t0
    if not drained:
        # timed out mid-drain: stop the query before anything reads its
        # output or removes its work dir, and flag the partial count
        q.stop()
    stop_flag.set()
    for t in ts:
        t.join()
    serve_s = time.time() - t0

    ingested = ingest.read_edges(spark, out_dir).count()
    srv.stop()

    # ---- solo batch edge-build rate over the same corpus ------------
    from graphjet_spark.plans.build_edges import build_edges

    pages_batch = spark.read.parquet(pages_dir)
    t0 = time.time()
    built = build_edges(pages_batch).count()
    batch_s = time.time() - t0

    shutil.rmtree(work, ignore_errors=True)
    total = sum(counts)
    lat_ms = [x for per in latencies for x in per]
    p50, p99 = np.percentile(lat_ms, [50, 99]) if lat_ms else (None, None)
    print(
        json.dumps(
            {
                "metric": "serve_under_ingest",
                "serving_req_per_sec": round(total / serve_s, 1),
                "requests": total,
                "errors": sum(errs),
                "threads": threads,
                "p50_ms": None if p50 is None else round(float(p50), 1),
                "p99_ms": None if p99 is None else round(float(p99), 1),
                "ingest_edges_per_sec": round(ingested / drain_s, 1),
                "ingested_edges": ingested,
                "expected_links": n_links,
                "ingest_drain_s": round(drain_s, 1),
                "drained": drained,
                "batch_build_edges_per_sec": round(built / batch_s, 1),
                "batch_built_edges": built,
                "batch_s": round(batch_s, 1),
                "n_pages": n_pages,
                "synth_s": round(synth_s, 1),
                "stage_s": round(stage_s, 1),
                "sf_dir": sf_dir,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
