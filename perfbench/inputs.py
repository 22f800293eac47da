"""Seeded benchmark inputs.

``write_star_schema`` writes the ten tables ``graphjet_spark.sources.
testdata`` reads, shaped like the driver's sf0.01 tier (15k orders,
~60k line items, 2k parts, 100 suppliers).  Only ``orders``,
``lineitem`` and ``part`` feed the graph and the serving mix; the other
seven are small stand-ins with the right columns so ``load_tables``
finds every file.  ``stage_pages`` writes a synthesized page corpus as
numbered parquet files, the arrival unit of the streaming source.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
N_CUST, N_SUPP, N_PART, N_ORD = 1_500, 100, 2_000, 15_000
PTYPES = np.array(["ECONOMY", "MEDIUM", "SMALL", "PROMO", "LARGE", "STANDARD"])


def _ts(days: np.ndarray, epoch: str) -> pa.Array:
    base = np.datetime64(epoch, "us").astype("int64")
    return pa.array((base + days * DAY_US).astype("datetime64[us]"))


def write_star_schema(out_dir: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {"r_regionkey": np.arange(5, dtype=np.int64),
                   "r_name": [f"R{i}" for i in range(5)]})
    put("nation", {"n_nationkey": np.arange(25, dtype=np.int64),
                   "n_name": [f"N{i}" for i in range(25)],
                   "n_regionkey": np.arange(25, dtype=np.int64) % 5})
    put("customer", {"c_custkey": np.arange(N_CUST, dtype=np.int64),
                     "c_nationkey": rng.integers(0, 25, N_CUST).astype(np.int32)})
    put("supplier", {"s_suppkey": np.arange(N_SUPP, dtype=np.int64),
                     "s_nationkey": rng.integers(0, 25, N_SUPP).astype(np.int32)})
    put("part", {
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_brand": np.char.add("Brand#", rng.integers(0, 25, N_PART).astype("U2")),
        "p_type": PTYPES[rng.integers(0, len(PTYPES), N_PART)],
    })

    o_days = rng.integers(0, 2404, N_ORD)  # 1995-01-01 .. 2001-08-01
    put("orders", {
        "o_orderkey": np.arange(N_ORD, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUST, N_ORD),
        "o_orderdate": _ts(o_days, "1995-01-01"),
    })

    lines = rng.integers(1, 8, N_ORD)  # ~4 lines per order
    l_ord = np.repeat(np.arange(N_ORD, dtype=np.int64), lines)
    n_li = len(l_ord)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    put("lineitem", {
        "l_orderkey": l_ord,
        "l_partkey": rng.integers(0, N_PART, n_li),
        "l_suppkey": rng.integers(0, N_SUPP, n_li),
        "l_linenumber": (np.arange(n_li) - first + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)],
        "l_shipdate": _ts(np.repeat(o_days, lines) + rng.integers(1, 96, n_li),
                          "1995-01-01"),
    })

    put("events", {"event_id": np.arange(10, dtype=np.int64),
                   "user_id": np.arange(10, dtype=np.int64)})
    put("documents", {"doc_id": np.arange(10, dtype=np.int64),
                      "text": [f"doc {i}" for i in range(10)]})
    put("embeddings", {"vec_id": np.arange(10, dtype=np.int64),
                       "label": np.zeros(10, dtype=np.int32)})


def stage_pages(pages, pages_dir: str, files: int) -> None:
    """Split the page frame into ``files`` parquet files, in order."""
    os.makedirs(pages_dir, exist_ok=True)
    per = -(-len(pages) // files)
    for i in range(files):
        chunk = pages.iloc[i * per : (i + 1) * per]
        if len(chunk) == 0:
            break
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            os.path.join(pages_dir, f"wave_{i:04d}.parquet"),
        )
