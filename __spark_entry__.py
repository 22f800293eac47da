"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship PageRank top-k at sf0.001.
``queries()``   — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()``— DuckDB-runnable ANSI SQL equivalents; iterative
                  algorithms use fixed-iteration unrolled CTE chains
                  (graphjet_spark.oracles) with identical arithmetic to
                  the Spark engine's fixed-iteration mode.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark import oracles
from graphjet_spark.operators.ann import (
    brute_force_topk,
    ivf_topk,
    lsh_bucketed_topk,
)
from graphjet_spark.operators.dedup import (
    dedup_keep_list,
    embedding_near_dups,
    exact_dedup,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from graphjet_spark.operators.degrees import degree_table, top_k_by_degree
from graphjet_spark.operators.textstats import (
    _LANG_MARKERS,
    _STOPWORDS,
    content_fingerprint,
    language_id,
    quality_score,
    token_count,
)
from graphjet_spark.operators.metadata import metadata_recs
from graphjet_spark.operators.sampling import random_multigraph_neighbors
from graphjet_spark.operators.secondary import top_second_degree_by_count
from graphjet_spark.operators.similarity import intersection_similarity
from graphjet_spark.operators.socialproof import social_proof
from graphjet_spark.plans.components import (
    connected_components,
    connected_components_delta,
    connected_components_star,
)
from graphjet_spark.plans.context import GraphTables
from graphjet_spark.plans.labelprop import label_propagation
from graphjet_spark.plans.pagerank import pagerank, ppr_grouped
from graphjet_spark.plans.salsa import salsa, salsa_montecarlo
from graphjet_spark.plans.triangles import per_vertex_triangles, triangle_count
from graphjet_spark.sources import testdata

PR_ITERS = 10
CC_ITERS = 12
LP_ITERS = 5


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank over the canonical graph at sf0.001, top 20."""
    edges = testdata.graph_edges(spark, "/root/testdata/sf0.001")
    pr = pagerank(spark, edges, fixed_iters=PR_ITERS)
    return pr.orderBy(F.desc("pagerank"), F.asc("id")).limit(20)


# --- gated queries ----------------------------------------------------


def _q_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return degree_table(_tables(spark, sf_dir, "graph_edges").pairs)


def _q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connector round-trip gate: export the documents table as JSONL
    (sources/jsonl.py), read it back with the explicit schema, and
    fingerprint EVERY column of every row (md5 over a \\x1f-joined
    field concat).  Value-oracled against DuckDB computing the same
    fingerprint on the parquet directly — a hash match proves the
    JSONL write/read cycle is lossless field-for-field."""
    import os
    import tempfile

    from graphjet_spark.sources.jsonl import read_jsonl_docs, write_jsonl_docs

    dest = os.path.join(
        tempfile.gettempdir(),
        "graphjet_jsonl",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    write_jsonl_docs(_docs(spark, sf_dir), dest)
    back = read_jsonl_docs(spark, dest)
    row = F.concat_ws(
        "\x1f",
        *[F.col(c).cast("string") for c in ("doc_id", "text", "lang", "source", "n_chars")],
    )
    return back.select("doc_id", F.md5(row).alias("row_md5"))


def _q_edgelist_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connector round-trip gate: export the canonical graph as a
    SNAP-style TAB edge list (sources/edgelist.py), read it back, and
    compute the degree table.  Value-oracled against the SAME DuckDB
    degrees SQL that gates ``degrees`` — a hash match proves the
    write/read cycle is lossless edge-for-edge."""
    import os
    import tempfile

    from graphjet_spark.sources.edgelist import read_edgelist, write_edgelist

    pairs = _tables(spark, sf_dir, "graph_edges").pairs
    dest = os.path.join(
        tempfile.gettempdir(),
        "graphjet_edgelist",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    write_edgelist(pairs, dest)
    return degree_table(read_edgelist(spark, dest))


def _q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connector round-trip gate: export the multi-capture pages
    fixture as WARC response records (sources/warc.py), read it back
    via the length-framed splitter, and report per-record url, epoch,
    lang, payload md5, and byte length.  Value-oracled against DuckDB
    reconstructing the same fixture straight from the documents table
    — a hash match proves the WARC write/read cycle is lossless."""
    import os
    import tempfile

    from graphjet_spark.sources.pages import synth_captures
    from graphjet_spark.sources.warc import read_warc_pages, write_warc_pages

    caps = synth_captures(_docs(spark, sf_dir)).select(
        "url", "warc_ts", "html", "lang"
    )
    dest = os.path.join(
        tempfile.gettempdir(),
        "graphjet_warc",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    write_warc_pages(caps, dest)
    back = read_warc_pages(spark, dest)
    return back.select(
        "url",
        F.col("warc_ts").cast("long").alias("warc_epoch"),
        "lang",
        F.md5("html").alias("payload_md5"),
        F.length("html").cast("bigint").alias("n_bytes"),
    )


ASOF_CUTOFF = "1998-01-01 00:00:00"


BACKTEST_CUTOFF = "1997-07-01 00:00:00"
BACKTEST_K = 5


def _q_rec_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender backtest: co-engagement item-item recs built at the
    cutoff, per-user top-k, precision scored against first-after-cutoff
    engagements — the product metric behind a GraphJet-style serving
    stack, as one reproducible row."""
    from graphjet_spark.operators.projection import rec_backtest

    inter = testdata.interactions(spark, sf_dir)
    return rec_backtest(
        inter,
        F.lit(BACKTEST_CUTOFF).cast("timestamp"),
        k=BACKTEST_K,
    )


def _q_one_mode_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.operators.projection import one_mode_projection

    inter = testdata.interactions(spark, sf_dir)
    return one_mode_projection(inter, min_cooccurrence=2)


def _q_butterfly_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite motif census: wedges + butterflies (2x2 bicliques)
    over the capped interaction graph — exact integers."""
    from graphjet_spark.operators.projection import butterfly_count

    inter = testdata.interactions(spark, sf_dir)
    return butterfly_count(inter)


def _q_edge_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month distinct-edge retention/addition/drop profile
    of the interaction stream (graph-evolution audit)."""
    from graphjet_spark.operators.projection import edge_churn_monthly

    inter = testdata.interactions(spark, sf_dir)
    return edge_churn_monthly(inter)


def _q_degrees_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.operators.projection import degrees_asof

    inter = testdata.interactions(spark, sf_dir)
    return degrees_asof(inter, F.lit(ASOF_CUTOFF).cast("timestamp"))


def _q_graph_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph evolution curve: per month, the number of never-before-
    seen distinct edges and the cumulative edge count — the analytics
    view of GraphJet's temporally-ordered segment growth (a segment's
    size IS this curve's increment)."""
    from pyspark.sql import Window

    inter = testdata.interactions(spark, sf_dir)
    first_seen = inter.groupBy("src", "dst").agg(
        F.min(F.date_trunc("month", F.col("ts").cast("timestamp"))).alias(
            "month"
        )
    )
    monthly = first_seen.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_edges")
    )
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return monthly.select(
        "month",
        "new_edges",
        F.sum("new_edges").over(w).cast("bigint").alias("cum_edges"),
    )


def _q_nation_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-decorated rollup: engagement per customer nation
    (broadcast-dim join path — the J5 metadata decoration applied to a
    proper dimension table)."""
    tables = testdata.load_tables(spark, sf_dir)
    inter = testdata.interactions(spark, sf_dir)
    cust = tables["customer"].select(
        F.col("c_custkey").cast("bigint").alias("src"),
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
    )
    nation = tables["nation"].select(
        F.col("n_nationkey").cast("bigint").alias("nationkey"),
        F.col("n_name").alias("nation"),
    )
    return (
        inter.join(F.broadcast(cust), "src")
        .join(F.broadcast(nation), "nationkey")
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_interactions"),
            F.countDistinct("src").cast("bigint").alias("n_customers"),
            F.round(F.sum("weight"), 6).alias("total_weight"),
        )
    )


def _q_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    inter = testdata.interactions(spark, sf_dir)
    return top_k_by_degree(inter, k=20, side="right")


def _q_typed_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(node, edge_type) degree table over the typed interaction
    stream — the typed-degree lookup GraphJet answers per edge type
    (reference bipartite/segment/LeftRegularBipartiteGraphSegment.java
    keeps per-type pools for exactly this query)."""
    inter = testdata.interactions(spark, sf_dir)
    return inter.groupBy(
        F.col("src").alias("id"), "edge_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("degree"))


VOCAB_COVERAGE_KS = (10, 100, 1000)


def _q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: share of all token occurrences
    covered by the top-k tokens by frequency (k in a fixed ladder) —
    the tokenizer-sizing diagnostic.  Rank ties break on the token
    string so the curve is cross-engine stable.

    Scale note: cumulative sums are only needed at ranks <= max(k),
    so the plan trims to the top-max(k) tokens with a TakeOrdered
    (no full-vocabulary sort shuffle) before the single-partition
    window — the windowed set is <= 1000 rows at any corpus size.
    The corpus is scanned ONCE: both the top-k trim and the total
    occurrence count read the materialized vocabulary table (token,
    count), never the token stream twice."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    words = F.when(
        F.trim(F.col("text")) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col("text")), r"\s+"))
    tok = docs.select(F.explode(words).alias("t"))
    counts = tok.groupBy("t").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=True)
    total = counts.agg(F.sum("c")).collect()[0][0]
    top = counts.orderBy(F.desc("c"), F.asc("t")).limit(
        max(VOCAB_COVERAGE_KS)
    )
    w = Window.orderBy(F.desc("c"), F.asc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("t")))
        .alias("rk"),
        F.sum("c").over(w).alias("cum"),
    )
    kdf = spark.createDataFrame(
        [(int(k),) for k in VOCAB_COVERAGE_KS], "k int"
    )
    return (
        ranked.join(F.broadcast(kdf), F.col("rk") == F.col("k"))
        .select(
            "k",
            F.round(
                F.col("cum").cast("double") / F.lit(float(total)), 6
            ).alias("vocab_share"),
        )
    )


def _q_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health report: the sanity numbers every ingest
    run logs before any downstream job trusts the data."""
    docs = _docs(spark, sf_dir)
    words = F.when(
        F.trim(F.col("text")) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col("text")), r"\s+"))
    per_doc = docs.select(
        "doc_id",
        "lang",
        F.size(words).alias("n_tok"),
        F.length("text").alias("n_chars"),
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("n_chars") == 0).cast("int")).cast("bigint").alias(
            "n_empty"
        ),
        F.sum((F.col("n_tok") < 10).cast("int")).cast("bigint").alias(
            "n_short"
        ),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _tables(spark, sf_dir, "graph_edges").pairs
    pr = pagerank(spark, edges, fixed_iters=PR_ITERS)
    # one row per vertex: count the (checkpointed) result instead of
    # re-deriving the vertex set with a second union+distinct job
    n = pr.count()
    return pr.select(
        "id", F.round(F.col("pagerank") * F.lit(float(n)), 4).alias("pagerank_n")
    )


PPR_SEEDS = {1: 2.0, 2: 1.0, 3: 1.0}
PPR_ITERS = 8
WPR_ITERS = 8


def _q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the interactions multigraph: rank spreads
    proportionally to summed edge weight (quantity)."""
    inter = testdata.interactions(spark, sf_dir)
    pr = pagerank(spark, inter, fixed_iters=WPR_ITERS, weight_col="weight")
    n = pr.count()
    return pr.select(
        "id", F.round(F.col("pagerank") * F.lit(float(n)), 4).alias("pagerank_n")
    )


def _q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _tables(spark, sf_dir, "graph_edges").pairs
    pr = pagerank(spark, edges, fixed_iters=PPR_ITERS, teleport=PPR_SEEDS)
    return pr.select("id", F.round("pagerank", 9).alias("ppr"))


SWEEP_SEEDS = {1: 1.0}
SWEEP_ITERS = 6
SWEEP_K = 50


def _q_ppr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local community around a seed: Andersen–Chung–Lang conductance
    sweep over the ppr/deg order — the whole-graph-free "community
    around this page" primitive; the community is the argmin-
    conductance prefix of the returned profile."""
    from graphjet_spark.plans.sweepcut import ppr_sweep_cut

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return ppr_sweep_cut(
        spark, edges, SWEEP_SEEDS, fixed_iters=SWEEP_ITERS, k=SWEEP_K
    )


TRUST_SEEDS = {1: 1.0, 2: 1.0, 3: 1.0, 4: 1.0, 5: 1.0}
SPAM_ITERS = 6


def _q_spam_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative spam mass (Gyongyi et al. VLDB'06 mass estimation over
    Gyongyi et al. VLDB'04 TrustRank): how much of each page's PageRank
    is NOT reachable from the trusted seed set — the classic web-spam
    triage signal on a Common-Crawl-style link graph.  Composes the
    engine's global PageRank and trust-seeded personalized PageRank at
    the same fixed superstep count."""
    edges = _tables(spark, sf_dir, "graph_edges").pairs
    pr = pagerank(spark, edges, fixed_iters=SPAM_ITERS)
    tr = pagerank(
        spark, edges, fixed_iters=SPAM_ITERS, teleport=TRUST_SEEDS
    ).withColumnRenamed("pagerank", "trust")
    return pr.join(tr, "id").select(
        "id",
        F.round(
            (F.col("pagerank") - F.col("trust")) / F.col("pagerank"), 6
        ).alias("spam_mass"),
    )


GPPR_SEEDS = (1, 2, 3, 4, 5)
GPPR_ITERS = 6


def _q_grouped_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch rec serving: top-20 personalized-PageRank targets for
    MANY seed users in one superstep loop (sparse (seed, id) state) —
    the grouped batch form of GraphJet's one-user-at-a-time walk
    queries."""
    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return ppr_grouped(
        spark, edges, list(GPPR_SEEDS), fixed_iters=GPPR_ITERS, k=20
    )


def _q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (the Broder bowtie decomposition
    input) over the graph enriched with deterministic back-edges —
    the base testdata graph is a layered DAG, so reversing the
    (src+dst)%5==0 slice plants real multi-vertex SCCs.  No SQL twin
    exists for mutual reachability (rows-only gate); correctness is
    the literal Tarjan mirror property test."""
    from graphjet_spark.plans.scc import strongly_connected_components

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    back = edges.filter(
        F.pmod(F.col("src") + F.col("dst"), F.lit(5)) == 0
    ).select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return strongly_connected_components(spark, edges.unionByName(back))


BOWTIE_ITERS = 12


def _q_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder bow-tie decomposition (WWW 2000) — CORE/IN/OUT/TUBE/
    TENDRIL/DISC macro-map of the directed graph, over the same
    back-edge-enriched graph as the SCC gate (the base testdata graph
    is a layered DAG); pivot-anchored so it is fully value-oracled,
    unlike mutual-reachability SCC."""
    from graphjet_spark.plans.bowtie import bowtie_decomposition

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    back = edges.filter(
        F.pmod(F.col("src") + F.col("dst"), F.lit(5)) == 0
    ).select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return bowtie_decomposition(
        spark, edges.unionByName(back), fixed_iters=BOWTIE_ITERS
    )


TREND_START, TREND_MID, TREND_END = (
    "1997-01-01 00:00:00",
    "1997-07-01 00:00:00",
    "1998-01-01 00:00:00",
)


def _q_trending_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal momentum: top-20 right nodes by in-degree growth in the
    recent half-window vs the prior half-window (laplace-smoothed
    ratio) — the time-sliced view GraphJet's temporally-ordered
    segments exist to serve (newest-segment scans vs whole-index
    scans).  One scan + one map-side-combined groupBy + bounded top-k;
    the top-k boundary orders on the ROUNDED score with id tie-break
    (cross-engine stable)."""
    inter = testdata.interactions(spark, sf_dir)
    win = inter.filter(
        (F.col("ts") >= F.lit(TREND_START).cast("timestamp"))
        & (F.col("ts") < F.lit(TREND_END).cast("timestamp"))
    )
    mid = F.lit(TREND_MID).cast("timestamp")
    agg = win.groupBy(F.col("dst").alias("id")).agg(
        F.sum((F.col("ts") >= mid).cast("int")).cast("bigint").alias("recent"),
        F.sum((F.col("ts") < mid).cast("int")).cast("bigint").alias("prior"),
    )
    trend = F.round(
        (F.col("recent") + F.lit(1.0)) / (F.col("prior") + F.lit(1.0)), 6
    )
    return (
        agg.select("id", "recent", "prior", trend.alias("trend"))
        .orderBy(F.desc("trend"), F.asc("id"))
        .limit(20)
    )


BETW_SOURCES = (1, 2, 3, 4)
BETW_DEPTH = 6


def _q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source Brandes betweenness (depth-truncated) — the
    bridge-detection centrality in its web-scale form."""
    from graphjet_spark.plans.betweenness import betweenness_sampled

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return betweenness_sampled(
        spark, edges, list(BETW_SOURCES), max_depth=BETW_DEPTH
    )


ANF_ITERS = 5


def _q_anf_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANF (approximate neighborhood function) sketch histogram:
    Flajolet-Martin BIGINT sketches OR-folded along out-edges per
    superstep (plans/anf.py).  The md5-prefix sketch hash makes this
    approximate algorithm a pure function of the graph, so the exact
    integer (t, sketch_sum, cnt) histogram is value-oracled with no
    float tolerance."""
    from graphjet_spark.plans.anf import anf_sketch_histogram

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return anf_sketch_histogram(spark, edges, iters=ANF_ITERS)


def _q_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q=0.9 effective diameter interpolated off the ANF curve — the
    hop-plot statistic (Palmer KDD'02) read from the same sketches."""
    from graphjet_spark.plans.anf import anf_sketch_histogram, effective_diameter

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    hist = anf_sketch_histogram(spark, edges, iters=ANF_ITERS)
    return effective_diameter(hist)


def _q_components_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-ingest re-label: converge CC on ~86% of the edges, then
    fold the held-out delta batch in via the condensed-graph merge path
    — output must equal (and is oracled against) the full-graph CC
    fixpoint."""
    edges = _tables(spark, sf_dir, "graph_edges").pairs
    is_delta = F.pmod(F.col("src") + F.col("dst"), F.lit(7)) == 0
    old_lab = connected_components_star(spark, edges.filter(~is_delta))
    return connected_components_delta(
        spark, old_lab, edges.filter(is_delta)
    )


# Engine-resident component labels (per sf_dir): the CC fixpoint is a
# table a real deployment materializes once per graph snapshot; the
# histogram and any component-scoped query derive from it.
_CC_CACHE: dict[str, DataFrame] = {}


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    if sf_dir not in _CC_CACHE:
        edges = _tables(spark, sf_dir, "graph_edges").pairs
        _CC_CACHE[sf_dir] = connected_components(
            spark, edges, fixed_iters=CC_ITERS
        ).localCheckpoint(eager=True)
    return _CC_CACHE[sf_dir]


def _q_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cc_labels(spark, sf_dir)


def _q_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-round large-star/small-star CC — runs to convergence, so it
    shares the hash-min oracle (whose CC_ITERS unrolling converges on
    this graph; the hash-min gate proves that)."""
    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return connected_components_star(spark, edges)


KCORE_K = 3
KCORE_ITERS = 8
HITS_ITERS = 8
BFS_SOURCE = 1
BFS_ITERS = 8


def _q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.plans.bfs import bfs_distances

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return bfs_distances(spark, edges, BFS_SOURCE, fixed_iters=BFS_ITERS)


SSSP_ITERS = 6
WALK_LEN = 4


def _q_walk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.plans.walks import hash_walk_corpus

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return hash_walk_corpus(spark, edges, length=WALK_LEN)


SAMPLE_WALK_LEN, SAMPLE_SEED_PCT = 4, 5


def _q_walk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-walk graph sampling (Leskovec & Faloutsos KDD'06) in
    rng-free hash form: the subgraph induced by walks from ~5% md5-
    threshold seeds — the shape-preserving subgraph extractor for
    downstream experimentation."""
    from graphjet_spark.plans.walks import walk_sample_subgraph

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return walk_sample_subgraph(
        spark, edges, length=SAMPLE_WALK_LEN, seed_pct=SAMPLE_SEED_PCT
    )


SKIPGRAM_WINDOW = 2


N2V_WEIGHTS = (1, 2, 4)  # integer 1/p, 1, 1/q for p=2, q=0.5 (DFS-leaning)


def _q_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order biased (node2vec) hash walks — deterministic, so
    value-oracled unlike seeded-RNG walkers."""
    from graphjet_spark.plans.walks import node2vec_walk_corpus

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    wr, wn, wf = N2V_WEIGHTS
    return node2vec_walk_corpus(
        spark, edges, length=WALK_LEN, w_return=wr, w_neighbor=wn, w_far=wf
    )


def _q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.plans.walks import hash_walk_corpus, skipgram_pairs

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    corpus = hash_walk_corpus(spark, edges, length=WALK_LEN)
    return skipgram_pairs(corpus, window=SKIPGRAM_WINDOW)


def _q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.plans.sssp import sssp

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return sssp(spark, edges, BFS_SOURCE, fixed_iters=SSSP_ITERS)


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.plans.hits import hits

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    res = hits(spark, edges, fixed_iters=HITS_ITERS)
    return res.select(
        "id",
        F.round("hub", 9).alias("hub"),
        F.round("authority", 9).alias("authority"),
    )


KATZ_ALPHA = 0.05
KATZ_ITERS = 8


def _q_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.plans.katz import katz

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    res = katz(spark, edges, alpha=KATZ_ALPHA, fixed_iters=KATZ_ITERS)
    return res.select("id", F.round("katz", 9).alias("katz"))


EIGEN_ITERS = 8


def _q_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.plans.katz import eigenvector_centrality

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    res = eigenvector_centrality(spark, edges, fixed_iters=EIGEN_ITERS)
    return res.select("id", F.round("eigen", 9).alias("eigen"))


AA_MAX_CENTER_DEGREE = 64
AA_MIN_COMMON = 2


def _q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.operators.linkpred import adamic_adar_pairs

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return adamic_adar_pairs(
        spark,
        edges,
        max_center_degree=AA_MAX_CENTER_DEGREE,
        min_common=AA_MIN_COMMON,
    )


HARMONIC_SOURCES = [1, 2, 3]


def _q_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.plans.bfs import harmonic_centrality

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return harmonic_centrality(
        spark, edges, HARMONIC_SOURCES, fixed_iters=BFS_ITERS
    )


def _q_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source Wasserman–Faust closeness (the web-scale
    estimator form, like harmonic)."""
    from graphjet_spark.plans.bfs import closeness_centrality

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return closeness_centrality(
        spark, edges, HARMONIC_SOURCES, fixed_iters=BFS_ITERS
    )


def _q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical link-prediction score family (common / Jaccard /
    resource-allocation / preferential-attachment) over capped wedges."""
    from graphjet_spark.operators.linkpred import link_prediction_scores

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return link_prediction_scores(
        spark,
        edges,
        max_center_degree=AA_MAX_CENTER_DEGREE,
        min_common=AA_MIN_COMMON,
    )


# Mid-layer (part) landmarks: the testdata graph is layered
# customer -> order -> part -> supplier, so part-layer landmarks carry
# both non-trivial d_from (to suppliers) and d_to (from customers).
LANDMARKS = (2_000_007, 2_000_048, 2_000_072, 2_000_127)
LM_ITERS = 6
LM_PAIR_IDS = (1, 2, 3, 4, 3_000_001, 3_000_002, 3_000_003)


# Engine-resident landmark index: a distance oracle exists precisely
# so that the (expensive, superstep-built) label table is built once
# per engine lifetime and every pair query is two cheap equi-joins —
# same pattern as _GRAPH_TABLES / _KEEP_LIST_CACHE.
_LANDMARK_CACHE: dict[str, DataFrame] = {}


def _landmark_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    if sf_dir not in _LANDMARK_CACHE:
        from graphjet_spark.plans.bfs import landmark_labels

        edges = _tables(spark, sf_dir, "graph_edges").pairs
        _LANDMARK_CACHE[sf_dir] = landmark_labels(
            spark, edges, list(LANDMARKS), fixed_iters=LM_ITERS
        ).localCheckpoint(eager=True)
    return _LANDMARK_CACHE[sf_dir]


def _q_landmark_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark distance-label index (2-hop labeling, sampled-landmark
    form): per-vertex directed distances from/to each landmark."""
    return _landmark_index(spark, sf_dir)


def _q_landmark_dist_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-oracle query path: upper-bound hop distances for a
    fixed pair set via two equi-joins against the landmark index —
    no traversal at query time."""
    from graphjet_spark.plans.bfs import landmark_distance_estimates

    labels = _landmark_index(spark, sf_dir)
    pairs = spark.createDataFrame(
        [(int(u), int(w)) for u in LM_PAIR_IDS for w in LM_PAIR_IDS if u != w],
        "u bigint, w bigint",
    )
    return landmark_distance_estimates(labels, pairs)


MIS_ITERS = 8


def _q_luby_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luby maximal independent set (deterministic-hash priorities) —
    the classic BSP building block for coloring/scheduling/coarsening."""
    from graphjet_spark.plans.mis import luby_mis

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return luby_mis(spark, edges, fixed_iters=MIS_ITERS)


CORENESS_ITERS = 12


def _q_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full core decomposition (degeneracy profile) via iterated
    h-index — the generalization of the k_core_3 gate to every k at
    once, in the hub-safe histogram form."""
    from graphjet_spark.plans.kcore import coreness

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return coreness(spark, edges, fixed_iters=CORENESS_ITERS)


WL_ROUNDS = 3


def _q_wl_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weisfeiler–Leman color refinement (hashed-WL): per-vertex
    3-hop structural-role colors + role-class sizes — the graph
    fingerprinting / role-discovery primitive (and the GNN
    expressiveness ceiling), in the commutative sum-hash form whose
    gather is one map-side-combinable aggregation."""
    from graphjet_spark.plans.wl import wl_colors

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return wl_colors(spark, edges, rounds=WL_ROUNDS)


COLORING_COLORS = 3
COLORING_MIS_ITERS = 6


def _q_greedy_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy coloring by iterated Luby MIS (Jones–Plassmann family);
    -1 = uncolored within the color budget."""
    from graphjet_spark.plans.mis import greedy_coloring

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return greedy_coloring(
        spark, edges, colors=COLORING_COLORS, mis_iters=COLORING_MIS_ITERS
    )


DENSEST_ROUNDS = 12


def _q_densest_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densest-subgraph greedy peeling (Charikar / Bahmani et al.
    VLDB'12) — the hub-core / link-farm density audit; all peel and
    argmax decisions are exact BIGINT cross-multiplications."""
    from graphjet_spark.plans.densest import densest_subgraph

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return densest_subgraph(spark, edges, rounds=DENSEST_ROUNDS)


def _q_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-size histogram — the connectivity profile a web-graph
    operator reads before anything else (giant-component share)."""
    cc = _cc_labels(spark, sf_dir)
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_components")
    )


KTRUSS_K = 4
KTRUSS_ITERS = 4


def _q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.plans.ktruss import k_truss

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return k_truss(spark, edges, KTRUSS_K, fixed_iters=KTRUSS_ITERS)


def _q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.plans.kcore import k_core

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return k_core(spark, edges, KCORE_K, fixed_iters=KCORE_ITERS)


def _q_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return label_propagation(spark, edges, iters=LP_ITERS)


def _q_lp_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.plans.labelprop import modularity

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    labels = label_propagation(spark, edges, iters=LP_ITERS)
    return modularity(spark, edges, labels)


def _q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return triangle_count(spark, edges)


def _q_triangles_per_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return per_vertex_triangles(spark, edges)


def _q_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.plans.graphstats import local_clustering

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return local_clustering(spark, edges)


def _q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.plans.graphstats import reciprocity

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return reciprocity(edges)


RICH_CLUB_KS = (4, 8, 16, 32)


def _q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.plans.graphstats import rich_club

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return rich_club(spark, edges, list(RICH_CLUB_KS))


def _q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.plans.graphstats import degree_assortativity

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return degree_assortativity(edges)


# Engine-resident tables (one per sf_dir per process, like GraphJet's
# in-memory index): the deduped interaction pair set + degree tables,
# and the deterministic top-parts seed picks.  Shared by every query in
# a gate/bench run instead of re-materializing per query.
_GRAPH_TABLES: dict[str, "GraphTables"] = {}
_TOP_PARTS_CACHE: dict[tuple[str, int], list[int]] = {}


def _tables(
    spark: SparkSession, sf_dir: str, source: str = "interactions"
) -> "GraphTables":
    key = f"{sf_dir}:{source}"
    if key not in _GRAPH_TABLES:
        loader = getattr(testdata, source)
        _GRAPH_TABLES[key] = GraphTables(loader(spark, sf_dir))
    return _GRAPH_TABLES[key]


def _top_parts(spark: SparkSession, sf_dir: str, k: int) -> list[int]:
    """Top-k parts by interaction degree (ties -> smaller id), the
    deterministic query/seed pick shared with the oracle SQL."""
    if (sf_dir, k) not in _TOP_PARTS_CACHE:
        inter = testdata.interactions(spark, sf_dir)
        rows = (
            inter.groupBy("dst")
            .count()
            .orderBy(F.desc("count"), F.asc("dst"))
            .limit(k)
            .collect()
        )
        _TOP_PARTS_CACHE[(sf_dir, k)] = [r["dst"] for r in rows]
    return _TOP_PARTS_CACHE[(sf_dir, k)]


def _similarity_gate(normalization: str):
    """Gate wrapper: IntersectionSimilarity vs query=top-1 part,
    seeds=top-2/3 parts, full candidate set (limit-stable)."""

    def _q(spark: SparkSession, sf_dir: str) -> DataFrame:
        top3 = _top_parts(spark, sf_dir, 3)
        inter = testdata.interactions(spark, sf_dir)
        res = intersection_similarity(
            inter,
            query_node=top3[0],
            seed_set=top3[1:],
            normalization=normalization,
            min_cooccurrence=2,
            max_results=None,
            tables=_tables(spark, sf_dir),
        )
        return res.select(
            "id", F.round("score", 6).alias("score"), "cooccurrence", "degree"
        )

    return _q


_q_similarity = _similarity_gate("cosine")
_q_similarity_jaccard = _similarity_gate("jaccard")
_q_similarity_overlap = _similarity_gate("overlap")
_q_similarity_invdeg = _similarity_gate("inverse_degree")
_q_similarity_scaled = _similarity_gate("scaled")


def _q_second_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    inter = testdata.interactions(spark, sf_dir)
    res = top_second_degree_by_count(
        inter, {1: 1.0, 2: 1.0, 3: 1.0}, max_results=20
    )
    return res.select("id", "weight", "visits")


def _q_second_degree_tweet_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tweet-rec business rules: candidates need a non-type-0 proof AND
    some proof type with >= 2 distinct proof users."""
    inter = testdata.interactions(spark, sf_dir)
    res = top_second_degree_by_count(
        inter,
        {s: 1.0 for s in range(1, 31)},
        max_results=20,
        tweet_proof_type=0,
        min_user_social_proof_size=2,
    )
    return res.select("id", "weight", "visits")


def _q_social_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    inputs = _top_parts(spark, sf_dir, 5)
    inter = testdata.interactions(spark, sf_dir)
    res = social_proof(
        inter, inputs, {1: 1.0, 2: 2.0, 3: 0.5}, proof_types=[0, 1]
    )
    return res.select(
        "id",
        F.round("weight", 6).alias("weight"),
        F.size("proofs").alias("n_proof_types"),
    )


SIMRANK_SEEDS = 8
SIMRANK_C = 0.8
SIMRANK_ITERS = 3


def _q_simrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimRank structural similarity (Jeh & Widom KDD'02) between the
    top in-degree part nodes — the recursive generalization of
    GraphJet's one-level co-citation intersection similarity, computed
    need-driven from the seed pairs (never all-pairs)."""
    from graphjet_spark.plans.simrank import simrank_pairs
    from graphjet_spark.sources.testdata import PART_OFS, SUPP_OFS

    e = _tables(spark, sf_dir, "graph_edges").pairs
    seeds = [
        r[0]
        for r in (
            e.filter(
                (F.col("dst") >= PART_OFS) & (F.col("dst") < SUPP_OFS)
            )
            .groupBy("dst")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("dst"))
            .limit(SIMRANK_SEEDS)
            .collect()
        )
    ]
    return simrank_pairs(
        _tables(spark, sf_dir, "graph_edges").pairs,
        seeds,
        c=SIMRANK_C,
        iters=SIMRANK_ITERS,
    )


def _q_salsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    top3 = _top_parts(spark, sf_dir, 3)
    # bipartite dst->src view: recommend customers for the top part
    inter = testdata.interactions(spark, sf_dir).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    res = salsa(
        inter,
        query_node=top3[0],
        seeds_with_weight={s: 1.0 for s in top3[1:]},
        num_walks=1000,
        walk_length=5,
        max_results=None,
    )
    # top-k on the ROUNDED score so the limit boundary is stable across
    # engines (raw float sums differ at ~1e-16 by summation order)
    return (
        res.select("id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(20)
    )


def _q_second_degree_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-chain gate (F1 exclude set + F3 direct interactions + F4
    min-degree + F5 proof types, composed by apply_filter_chain) over
    the full second-degree candidate set, then top-20."""
    from graphjet_spark.operators.filters import (
        apply_filter_chain,
        direct_interactions_exclude,
        min_interactions_filter,
        requested_set_filter,
        social_proof_types_filter,
    )

    inter = testdata.interactions(spark, sf_dir)
    tables = _tables(spark, sf_dir)
    top2 = _top_parts(spark, sf_dir, 2)
    cands = top_second_degree_by_count(
        inter, {s: 1.0 for s in range(1, 6)}, max_results=None
    )
    deg = tables.in_deg.select(
        F.col("dst").alias("id"), F.col("right_degree").alias("degree")
    )
    decorated = cands.join(deg, "id")
    filtered = apply_filter_chain(
        decorated,
        [
            requested_set_filter(top2),        # F1
            min_interactions_filter(3),        # F4
            social_proof_types_filter([0, 1]), # F5
        ],
        exclude_tables=[direct_interactions_exclude(tables.pairs, 1)],  # F3
    )
    return (
        filtered.select("id", "weight", "visits", "degree")
        .orderBy(F.desc("weight"), F.asc("id"))
        .limit(20)
    )


def _q_adjacency_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 iterator-skip pagination over the CSR adjacency blocks:
    customer 1's distinct neighbors after skipping the first 5 (block
    order = sorted dst when unsplit)."""
    from graphjet_spark.operators.adjacency import adjacency_blocks, skip_neighbors

    adj = adjacency_blocks(_tables(spark, sf_dir).pairs)
    return skip_neighbors(adj, 1, 5)


def _q_adjacency_numbered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 numbered-edge lookup: customer 1's 3rd neighbor in block
    order (getNumberedEdge)."""
    from graphjet_spark.operators.adjacency import adjacency_blocks, numbered_edge

    adj = adjacency_blocks(_tables(spark, sf_dir).pairs)
    return numbered_edge(adj, 1, 3)


def _q_top_parts_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F8 time-range filter gate: top parts by engagement counting
    only interactions shipped in 1995 (the edge-attribute form of the
    recency filters; composed as a Column predicate so Catalyst pushes
    it to the scan)."""
    from graphjet_spark.operators.filters import time_range_filter

    inter = testdata.interactions(spark, sf_dir)
    recent = inter.filter(
        time_range_filter("1995-01-01", "1995-12-31", "ts")(inter)
    )
    return (
        recent.groupBy("dst")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("dst").alias("id"), "degree")
        .orderBy(F.desc("degree"), F.desc("id"))
        .limit(20)
    )


def _q_salsa_mc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo full-graph SALSA (per-walk, seeded engine RNG —
    rows-only gate by contract; parity pinned by the literal walk-loop
    mirror in tests/test_graphjet_queries.py)."""
    top3 = _top_parts(spark, sf_dir, 3)
    inter = testdata.interactions(spark, sf_dir).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    rev_pairs = _tables(spark, sf_dir).pairs.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return salsa_montecarlo(
        inter,
        query_node=top3[0],
        seeds_with_weight={s: 1.0 for s in top3[1:]},
        num_walks=1000,
        walk_length=5,
        max_results=20,
        seed=42,
        pairs=rev_pairs,
    )


def _q_metadata_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    inter = testdata.interactions(spark, sf_dir)
    cands = top_second_degree_by_count(
        inter, {1: 1.0, 2: 1.0, 3: 1.0}, max_results=20
    ).select("id", "weight")
    meta = testdata.node_meta(spark, sf_dir)
    res = metadata_recs(cands, meta, meta_type=1, max_results=None)
    return res.select("meta_id", "weight", "n_candidates")


def _q_rmgn(spark: SparkSession, sf_dir: str) -> DataFrame:
    inter = testdata.interactions(spark, sf_dir)
    return random_multigraph_neighbors(
        inter, {1: 1.0, 2: 1.0, 3: 2.0}, max_num_samples=10_000, seed=42
    )


def _q_reach_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-seed 2-hop reach over the bipartite graph: #distinct
    customers reachable through shared parts (the SalsaStats
    numRightNodesReached analogue, reference algorithms/salsa/
    SalsaStats.java:34; J2 co-occurrence join shape)."""
    seeds = spark.createDataFrame([(1,), (2,), (3,)], "seed bigint")
    e = _tables(spark, sf_dir).pairs
    e1 = e.join(F.broadcast(seeds), e.src == F.col("seed")).select("seed", "dst")
    e2 = e.select(F.col("dst").alias("dst"), F.col("src").alias("peer"))
    return (
        e1.join(e2, "dst")
        .filter(F.col("peer") != F.col("seed"))
        .groupBy("seed")
        .agg(F.countDistinct("peer").alias("reach"))
        .orderBy("seed")
    )


CMS_WIDTH, CMS_DEPTH, CMS_TOPK = 64, 4, 20


def _q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch accuracy audit: the true top-k heavy hitters
    decorated with their sketch estimates (est >= true always; the gap
    is the collision overestimate at width 64 < distinct keys).  The
    mergeable-sketch primitive behind per-key rates / join-size
    estimates at web scale."""
    from graphjet_spark.operators.sketches import cms_counters, cms_estimate

    events = testdata.load_tables(spark, sf_dir)["events"]
    true_top = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("user_id"))
        .limit(CMS_TOPK)
    )
    ctr = cms_counters(events, "user_id", width=CMS_WIDTH, depth=CMS_DEPTH)
    est = cms_estimate(
        ctr,
        true_top.select("user_id"),
        "user_id",
        width=CMS_WIDTH,
        depth=CMS_DEPTH,
    )
    return true_top.join(
        est.withColumnRenamed("key", "user_id"), "user_id"
    ).select("user_id", "true_cnt", "est_cnt")


HLL_M = 64


def _q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog accuracy audit: per event type, the true distinct
    user count next to the HLL-64 estimate — the mergeable
    distinct-count sketch behind web-scale audience/reach numbers."""
    from graphjet_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    events = testdata.load_tables(spark, sf_dir)["events"]
    true_d = events.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("true_distinct")
    )
    reg = hll_registers(events, "user_id", ("event_type",), m=HLL_M)
    est = hll_estimate(reg, ("event_type",), m=HLL_M)
    return true_d.join(est, "event_type").select(
        "event_type", "true_distinct", "hll_est"
    )


MARKOV_CUTOFF = "2024-01-22 00:00:00"


def _q_markov_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event prediction backtest: the first-order Markov matrix
    trained before the cutoff, argmax-predicting each later same-user
    transition — behavior-model accuracy as one reproducible row."""
    from graphjet_spark.operators.sessions import markov_backtest

    events = testdata.load_tables(spark, sf_dir)["events"]
    return markov_backtest(events, F.lit(MARKOV_CUTOFF))


def _q_events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2-analogue over the events stream table: top users by total
    engagement value (ties -> larger id, recency semantics)."""
    events = testdata.load_tables(spark, sf_dir)["events"]
    return (
        events.groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 6).alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy(F.desc("total_value"), F.desc("user_id"))
        .limit(20)
    )


def _q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-day rollup — the batch twin of the
    Structured Streaming windowed aggregation (same bucketing the
    watermarked streaming path produces)."""
    events = testdata.load_tables(spark, sf_dir)["events"]
    return events.groupBy(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


QUANTILES = (0.5, 0.9, 0.99)


def _q_quality_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language quality quantiles ((n-1)*q linear
    interpolation — identical in Spark percentile and DuckDB
    quantile_cont)."""
    docs = _docs(spark, sf_dir)
    q = quality_score(docs).join(docs.select("doc_id", "lang"), "doc_id")
    return q.groupBy("lang").agg(
        *[
            F.round(F.percentile("quality", F.lit(p)), 6).alias(
                f"q{str(p).replace('0.', '')}"
            )
            for p in QUANTILES
        ]
    )


def _q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.operators.sessions import event_transitions

    events = testdata.load_tables(spark, sf_dir)["events"]
    return event_transitions(events)


def _q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.operators.sessions import event_burstiness

    events = testdata.load_tables(spark, sf_dir)["events"]
    return event_burstiness(events)


def _q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.operators.sessions import session_stats

    events = testdata.load_tables(spark, sf_dir)["events"]
    return session_stats(events)


def _q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 power-law histogram: #nodes per floor(log2(out_degree)) bucket.

    Bucket computed as length(bin(d))-1 (integer bit-length), identical
    in Spark and DuckDB — floating log2 is not cross-engine stable at
    power-of-two boundaries."""
    e = _tables(spark, sf_dir, "graph_edges").pairs
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
    return (
        deg.groupBy(
            (F.length(F.bin("out_degree")) - 1).cast("int").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("nodes"))
        .orderBy("bucket")
    )


# --- training-data pipeline queries (documents/embeddings tables) -----


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return testdata.load_tables(spark, sf_dir)["documents"]


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return testdata.load_tables(spark, sf_dir)["embeddings"]


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=1, threshold=0.9)


SUBSTR_WINDOW = 8
SUBSTR_DF_CAP = 50


def _q_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dup pairs (Lee et al. ACL'22 — verbatim
    8-token runs shared across documents, df-capped window hashes)."""
    from graphjet_spark.operators.dedup import exact_substring_pairs

    return exact_substring_pairs(
        _docs(spark, sf_dir), window=SUBSTR_WINDOW, df_cap=SUBSTR_DF_CAP
    )


def _q_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring corpus rewrite (Lee et al. ACL'22 §4 output):
    every duplicated 8-token window keeps only its globally-first
    occurrence; later occurrences have their covered tokens dropped and
    each document is re-assembled from the survivors."""
    from graphjet_spark.operators.dedup import substring_dedup_rewrite

    return substring_dedup_rewrite(_docs(spark, sf_dir), window=SUBSTR_WINDOW)


# Engine-resident dedup keep-list (per sf_dir per process): at 100 TB
# this is a table the ingest pipeline maintains and queries join — the
# doc-side analogue of _GRAPH_TABLES.  First query to touch it pays the
# build; downstream consumers (corpus_select) reuse the checkpointed
# result.
_KEEP_LIST_CACHE: dict[str, DataFrame] = {}


def _keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    if sf_dir not in _KEEP_LIST_CACHE:
        _KEEP_LIST_CACHE[sf_dir] = dedup_keep_list(
            _docs(spark, sf_dir), n=1, threshold=0.9
        ).localCheckpoint(eager=True)
    return _KEEP_LIST_CACHE[sf_dir]


def _q_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pipeline gate: near-dup pairs -> CC over the
    pair graph -> canonical keeper per cluster.  Uses the convergent
    star-contraction CC (the scale path, ~4 rounds on clique-ish dedup
    clusters); the oracle's 12 unrolled hash-min rounds converge on
    these pair graphs (verified at both gate scales), so values agree."""
    return _keep_list(spark, sf_dir)


def _q_dedup_keep_list_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental keep-list maintenance (the continuous-crawl shape):
    docs with doc_id % 10 == 9 play the newly ingested batch, the rest
    the standing corpus with its maintained keep-list; the delta op
    restricts quadratic pair work to new x all and warm-starts CC from
    the old keep-list's star edges.  The oracle is the FULL-corpus
    keep-list SQL — the gate thereby proves incremental == batch
    row-for-row."""
    from graphjet_spark.operators.dedup import dedup_keep_list_delta

    docs = _docs(spark, sf_dir)
    new_ids = docs.filter(F.pmod("doc_id", F.lit(10)) == 9).select("doc_id")
    old_docs = docs.join(new_ids, "doc_id", "left_anti")
    old_keeps = dedup_keep_list(old_docs, n=1, threshold=0.9)
    return dedup_keep_list_delta(
        docs, new_ids, old_keeps, n=1, threshold=0.9
    )


def _q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-provenance dedup leakage — which feeds are flooding the
    corpus with near-duplicates (drop a feed, not a document)."""
    kl = _keep_list(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", "source")
        .join(kl, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("keep_id") == F.col("doc_id")).cast("bigint"))
            .cast("bigint")
            .alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            F.round(
                F.lit(1.0)
                - F.col("n_kept").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_rate"),
        )
    )


PL_DMIN = 2


def _q_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution power-law exponent (CSN'09 MLE) — the
    one-number shape audit of a crawled webgraph."""
    from graphjet_spark.plans.graphstats import powerlaw_alpha

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return powerlaw_alpha(edges, dmin=PL_DMIN)


def _q_triangle_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed triangles vs the configuration-model closed form —
    the motif-significance audit without generating a null graph."""
    from graphjet_spark.plans.graphstats import triangle_significance

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return triangle_significance(spark, edges)


def _q_triad_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 3-cycle vs feed-forward-loop counts — the
    hierarchy-vs-feedback motif audit (Milo et al. Science'02); the
    Spark plan classifies each undirected triangle's direction bits,
    the oracle re-derives both counts via naive directed wedge joins."""
    from graphjet_spark.plans.triangles import directed_triad_census

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return directed_triad_census(spark, edges)


def _q_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-concentration Gini coefficient — the one-number hub
    inequality audit, exact grouped-value form (no global sort)."""
    from graphjet_spark.plans.graphstats import degree_gini

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    return degree_gini(edges)


SAMPLE_FRACS = {"en": 0.5, "fr": 0.25}
SAMPLE_DEFAULT = 0.1


def _q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.operators.corpus import hash_threshold_sample

    return hash_threshold_sample(
        _docs(spark, sf_dir), SAMPLE_FRACS, default_frac=SAMPLE_DEFAULT
    )


def _q_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.operators.corpus import source_quality_rollup

    return source_quality_rollup(_docs(spark, sf_dir))


def _q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top-20 tokens by document
    frequency (ties -> token asc) — the df table every prefix-filter /
    stop-token decision reads."""
    from graphjet_spark.operators.dedup import token_sets

    toks = token_sets(_docs(spark, sf_dir), n=1)
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(20)
    )


def _q_embedding_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cluster keep-list: cosine>=0.3 pairs -> star CC over
    the pair graph -> canonical vector per cluster (the embedding-space
    twin of dedup_keep_list)."""
    pairs = embedding_near_dups(_embs(spark, sf_dir), threshold=0.3).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components_star(spark, pairs)
    embs = _embs(spark, sf_dir).select("vec_id")
    return embs.join(comp, embs.vec_id == comp.id, "left").select(
        "vec_id", F.coalesce("component", F.col("vec_id")).alias("keep_id")
    )


def _q_corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's reason to exist, as one query: materialize the
    training set — canonical (non-duplicate) docs above the quality
    floor in the requested language.  Composes dedup_keep_list x
    quality_score x language_id; the oracle composes the same three
    SQL chains."""
    docs = _docs(spark, sf_dir)
    keep = _keep_list(spark, sf_dir)
    q = quality_score(docs)
    lid = language_id(docs)
    return (
        keep.filter(F.col("keep_id") == F.col("doc_id"))
        .join(q, "doc_id")
        .join(lid, "doc_id")
        .filter((F.col("quality") >= 0.5) & (F.col("pred_lang") == "en"))
        .select("doc_id", "n_words", "quality", "pred_lang")
    )


def _q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dups(_embs(spark, sf_dir), threshold=0.3)


def _q_embedding_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.operators.ann import embedding_cluster_stats

    return embedding_cluster_stats(_embs(spark, sf_dir))


KMEANS_K = 8
KMEANS_ITERS = 2


def _q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means assignments with deterministic hash init — the
    embedding-clustering step of a curation pipeline, value-oracled
    (a pure function of the table, unlike seeded-RNG k-means)."""
    from graphjet_spark.operators.ann import kmeans_assign

    return kmeans_assign(_embs(spark, sf_dir), k=KMEANS_K, iters=KMEANS_ITERS)


SEMDEDUP_TAU = 0.4


def _q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. '23) semantic dedup keep-list: k-means
    clusters, then within-cluster cosine pruning keeping the min-id
    representative — per-cluster blocked-GEMM candidates + exact JVM
    rescore, value-oracled end to end (deterministic hash-init
    k-means)."""
    from graphjet_spark.operators.dedup import semdedup_keep_list

    return semdedup_keep_list(
        _embs(spark, sf_dir),
        k=KMEANS_K,
        iters=KMEANS_ITERS,
        threshold=SEMDEDUP_TAU,
    )


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return brute_force_topk(_embs(spark, sf_dir), [0, 1, 2, 3, 4], k=10)


MNN_SPLIT = 5


def _q_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus mutual nearest neighbors (labels < 5 vs >= 5) —
    the bitext/aligned-pair mining shape (CCMatrix-style): a pair
    survives iff each side is the other's top-1 cosine neighbor."""
    from graphjet_spark.operators.ann import mutual_nn_pairs

    return mutual_nn_pairs(_embs(spark, sf_dir), split_label=MNN_SPLIT)


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_count(_docs(spark, sf_dir))


def _q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints exploded to scalar (doc_id, fingerprint)
    rows — array-free output keeps the cross-engine comparator exact."""
    from graphjet_spark.operators.textstats import winnowing_fingerprints

    return winnowing_fingerprints(_docs(spark, sf_dir)).select(
        "doc_id", F.explode("fingerprints").alias("fingerprint")
    )


def _q_pii_scrub_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over deterministically planted PII (the synthetic
    corpus itself is digit-free, so the ground truth is nonzero only
    via the closed-form plants — operators/textstats.py::plant_pii)."""
    from graphjet_spark.operators.textstats import pii_scrub, plant_pii

    return pii_scrub(plant_pii(_docs(spark, sf_dir)))


def _q_latest_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-ingest dedup: newest capture per canonical URL over a
    deterministic multi-capture pages fixture (three URL spellings per
    document that all canonicalize to one URL — fragment, trailing
    slash, uppercase origin).  Output is the kept raw URL, its epoch,
    lang, and the capture multiplicity per canonical URL."""
    from graphjet_spark.plans.build_edges import latest_capture
    from graphjet_spark.sources.pages import synth_captures

    out = latest_capture(synth_captures(_docs(spark, sf_dir)))
    return out.select(
        "canonical_url",
        F.col("url").alias("kept_url"),
        F.col("warc_ts").cast("long").alias("warc_epoch"),
        "lang",
        "n_captures",
    )


REDIRECT_ROUNDS = 3


def _q_redirect_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution by pointer doubling over a functional
    redirect map derived from the canonical graph (every 4th node
    redirects to its MIN out-neighbor — min walks down the layer
    namespaces, so customer -> order -> part -> supplier chains of
    length 3 occur; the layering makes the map a DAG).  Output: final
    landing node, hop count, and an honest resolved/overflow flag per
    redirecting node (cycle handling is pinned by the planted-cycle
    pytest — the canonical graph has none)."""
    from graphjet_spark.plans.build_edges import resolve_redirects

    edges = testdata.graph_edges(spark, sf_dir)
    redirects = (
        edges.where(F.col("src") % 4 == 0)
        .groupBy("src")
        .agg(F.min("dst").alias("dst"))
    )
    return resolve_redirects(redirects, rounds=REDIRECT_ROUNDS)


def _q_host_graph_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level webgraph fold (the Common-Crawl "host graph"
    artifact) over a URL-shaped projection of the canonical graph:
    node -> https://h{id%8}.example.org/p{id}, then inter-host link
    counts + distinct linking pages per host pair."""
    from graphjet_spark.plans.build_edges import host_graph

    def url(c: str):
        return F.concat(
            F.lit("https://h"),
            (F.col(c) % 8).cast("string"),
            F.lit(".example.org/p"),
            F.col(c).cast("string"),
        )

    edges = testdata.graph_edges(spark, sf_dir)
    return host_graph(
        edges.select(url("src").alias("src_url"), url("dst").alias("dst_url"))
    )


def _q_anchor_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text profile (what other pages call each url —
    the web-search / LLM-pretraining anchor corpus) over a
    SQL-expressible anchor-row fixture derived from the interaction
    stream: anchor term = (src+dst) % 7, duplicates preserved, so
    modal-anchor ties and multi-referrer targets both occur."""
    from graphjet_spark.plans.build_edges import anchor_text_summary

    inter = testdata.interactions(spark, sf_dir)
    rows = inter.select(
        F.concat(
            F.lit("https://c"),
            (F.col("src") % 8).cast("string"),
            F.lit(".example.org/u"),
            F.col("src").cast("string"),
        ).alias("src_url"),
        F.concat(
            F.lit("https://p.example.org/t"), F.col("dst").cast("string")
        ).alias("dst_url"),
        F.concat(
            F.lit("term"), ((F.col("src") + F.col("dst")) % 7).cast("string")
        ).alias("anchor"),
    )
    return anchor_text_summary(rows)


def _q_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-host detection (Bharat & Broder WWW'99 content-
    signature overlap) over a planted-mirror fixture: host = source,
    plus a ``-m`` mirror host per source carrying the docs with
    doc_id % 4 < 3 verbatim — so every (source, source-m) pair is a
    75%-Jaccard / 1.0-overlap mirror and cross-source pairs are not."""
    from graphjet_spark.operators.mirrors import mirror_hosts

    docs = _docs(spark, sf_dir)
    base = docs.select(F.col("source").alias("host"), "text")
    mirr = docs.filter(F.col("doc_id") % 4 < 3).select(
        F.concat(F.col("source"), F.lit("-m")).alias("host"), "text"
    )
    return mirror_hosts(base.unionByName(mirr))


def _q_page_change_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cho-Garcia-Molina Poisson change-rate estimation per URL over a
    regular-cadence revisit fixture (5 daily captures per document;
    content version bumps exactly where ``(doc_id + i) % 3 == 0``, so
    every URL sees 1 or 2 changes across its 4 intervals and the
    estimator's two regimes both occur)."""
    from graphjet_spark.operators.crawl import page_change_rate
    from graphjet_spark.sources.pages import synth_change_captures

    caps = synth_change_captures(_docs(spark, sf_dir), interval_s=86_400)
    return page_change_rate(caps)


def _q_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seven Gopher A1 document-quality rules (Rae et al. 2021) as
    per-doc 0/1 flags plus the combined keep decision — pure projection
    at scan rate."""
    from graphjet_spark.operators.textstats import gopher_quality_flags

    return gopher_quality_flags(_docs(spark, sf_dir))


KN_TOPK = 50


def _q_kn_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram model (Chen & Goodman TR-10-98
    §2.7, D = 0.75) from exact distributed counts: the 50 most frequent
    corpus bigrams with their smoothed probabilities."""
    from graphjet_spark.operators.lm import kn_bigram_topk

    return kn_bigram_topk(_docs(spark, sf_dir), k=KN_TOPK)


def _q_kn_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under the corpus's own KN bigram model —
    the CCNet (Wenzek LREC'20) quality-ranking signal."""
    from graphjet_spark.operators.lm import kn_doc_perplexity

    return kn_doc_perplexity(_docs(spark, sf_dir))


BPE_TOPK = 50


def _q_bpe_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-round BPE merge-pair counts (Sennrich ACL'16) — the
    tokenizer-construction statistic: char pairs per word-type (with
    </w> marker) weighted by corpus word frequency, top-k."""
    from graphjet_spark.operators.textstats import bpe_merge_stats

    return bpe_merge_stats(_docs(spark, sf_dir), k=BPE_TOPK)


COVERAGE_K, COVERAGE_N = 10, 2


def _q_coverage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage corpus selection: k rounds of "pick the doc
    adding the most unseen bigrams" with the running covered-vocabulary
    curve — the (1-1/e)-approximate submodular data-selection
    primitive."""
    from graphjet_spark.operators.corpus import coverage_select

    return coverage_select(_docs(spark, sf_dir), k=COVERAGE_K, n=COVERAGE_N)


CHUNK_TOKENS, CHUNK_OVERLAP = 64, 16


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token overlapping chunking (the pretraining/RAG window
    splitter — pack_sequences' inverse); pure JVM array expressions at
    scan rate."""
    from graphjet_spark.operators.corpus import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir),
        chunk_tokens=CHUNK_TOKENS,
        overlap=CHUNK_OVERLAP,
    )


PACK_SEQ_LEN = 2048


def _q_source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-provenance unigram KL divergence vs the whole corpus — the
    feed-drift audit (templated/wrong-language sources light up)."""
    from graphjet_spark.operators.textstats import source_token_kl

    return source_token_kl(_docs(spark, sf_dir))


BM25_TERMS = ("hash", "merge", "window")
# n=3 trigrams: the synthetic corpus draws from a ~40-word vocabulary,
# so bigram df is corpus-wide (931 types, median df 285 at sf0.1) and
# NO prefix filter can prune bigram candidates (16.5M pairs, measured);
# trigram df restores selectivity (24x fewer candidates) and catches
# the same planted containment dups (56/50 pairs vs 60/51 at n=2)
CONTAIN_N = 3
CONTAIN_T = 0.6


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 full-text retrieval for a fixed term bag —
    the relevance-scoring primitive of a search/rerank pipeline."""
    from graphjet_spark.operators.textstats import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), BM25_TERMS)


def _q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment near-dups (quote/subset leaks
    Jaccard misses); dense-vocab corpora take the blocked in-task
    intersection path, sparse ones the prefix-filtered candidates."""
    from graphjet_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _docs(spark, sf_dir), n=CONTAIN_N, threshold=CONTAIN_T
    )


CONTAIN_K = 10


def _q_containment_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded containment: per-doc top-k containers by (containment
    DESC, doc_b ASC) — exact equal to the census ranked+sliced, but
    with in-task top-k retention so it completes on dense-vocab
    corpora where the census output is quadratic by construction."""
    from graphjet_spark.operators.dedup import containment_topk

    return containment_topk(
        _docs(spark, sf_dir), n=CONTAIN_N, threshold=CONTAIN_T, k=CONTAIN_K
    )


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk training-sequence packing (two-phase
    distributed prefix sum over a deterministic hash-shuffled order)."""
    from graphjet_spark.operators.corpus import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=PACK_SEQ_LEN)


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_docs(spark, sf_dir))


CROSSDOC_N = 3


def _q_crossdoc_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of distinct token n-grams shared with any other
    document (Gopher/RefinedWeb-style inter-doc duplication profile)."""
    from graphjet_spark.operators.dedup import crossdoc_dup_fraction

    return crossdoc_dup_fraction(_docs(spark, sf_dir), n=CROSSDOC_N)


BOILER_N, BOILER_FRAC = 2, 0.1


def _q_source_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-scoped boilerplate audit (the C4/CCNet per-site repeated-
    content signal): per-doc fraction of distinct token bigrams present
    in >= ceil(frac * n_docs) of the same source's documents."""
    from graphjet_spark.operators.textstats import source_boilerplate

    return source_boilerplate(
        _docs(spark, sf_dir), n=BOILER_N, frac=BOILER_FRAC
    )


def _q_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of distinct n-grams FIRST seen in that doc
    (arrival-order marginal contribution — the crawl-scheduling twin of
    crossdoc_dup_fraction)."""
    from graphjet_spark.operators.dedup import gram_novelty

    return gram_novelty(_docs(spark, sf_dir), n=CROSSDOC_N)


DSIR_LANG = "en"
DSIR_QUANTILE = 0.75


def _q_dsir_logratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. NeurIPS'23) importance log-ratio + deterministic
    top-quantile selection against the corpus's own en slice."""
    from graphjet_spark.operators.textstats import dsir_logratio

    return dsir_logratio(
        _docs(spark, sf_dir),
        target_lang=DSIR_LANG,
        select_quantile=DSIR_QUANTILE,
    )


ZIPF_CMIN = 3


def _q_zipf_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent MLE of the corpus token-frequency distribution
    (vocabulary-health audit)."""
    from graphjet_spark.operators.textstats import zipf_alpha

    return zipf_alpha(_docs(spark, sf_dir), cmin=ZIPF_CMIN)


def _q_degree_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact symmetrized-degree quantiles — the skew profile that sizes
    salting/broadcast decisions before running anything else."""
    from graphjet_spark.plans.components import symmetrize

    edges = _tables(spark, sf_dir, "graph_edges").pairs
    deg = symmetrize(edges).groupBy("a").agg(
        F.count(F.lit(1)).cast("double").alias("d")
    )
    return deg.agg(
        F.round(F.percentile("d", F.lit(0.5)), 6).alias("q5"),
        F.round(F.percentile("d", F.lit(0.9)), 6).alias("q9"),
        F.round(F.percentile("d", F.lit(0.99)), 6).alias("q99"),
        F.max("d").cast("bigint").alias("max_deg"),
    )


def _q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-likelihood per doc under the corpus's own
    distribution (the KenLM-filter stand-in)."""
    from graphjet_spark.operators.textstats import unigram_logprob

    return unigram_logprob(_docs(spark, sf_dir))


def _q_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile curriculum bins over the per-doc unigram
    log-likelihood (easy->hard ordering for curriculum/annealing
    schedules); percentile thresholds, no global NTILE window."""
    from graphjet_spark.operators.textstats import curriculum_buckets

    return curriculum_buckets(_docs(spark, sf_dir))


DECON_N = 3
DECON_MOD = 97


def _q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.operators.dedup import decontamination_flags

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % DECON_MOD == 0).select("doc_id")
    return decontamination_flags(docs, bench, n=DECON_N)


BLOOM_M_BITS = 1 << 16
BLOOM_K = 4
PARA_TOKENS = 16


def _q_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.operators.dedup import bloom_decontamination_flags

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % DECON_MOD == 0).select("doc_id")
    return bloom_decontamination_flags(
        docs, bench, n=DECON_N, m_bits=BLOOM_M_BITS, k=BLOOM_K
    )


def _q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.operators.dedup import paragraph_dedup_rewrite

    return paragraph_dedup_rewrite(
        _docs(spark, sf_dir), para_tokens=PARA_TOKENS
    )


def _q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=5)


def _q_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.operators.dedup import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        _docs(spark, sf_dir), threshold=0.5, max_df_frac=0.2
    )


def _q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.operators.textstats import collocations_pmi

    return collocations_pmi(_docs(spark, sf_dir), min_count=5)


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphjet_spark.operators.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return content_fingerprint(_docs(spark, sf_dir)).select("doc_id", "md5")


def _q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(_docs(spark, sf_dir))


def _q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: predicted vs labeled language
    counts — the classifier-evaluation readout over the corpus's own
    ground-truth column (honest low accuracy here: the synthetic text
    is vocab-English regardless of label)."""
    docs = _docs(spark, sf_dir)
    pred = language_id(docs).select("doc_id", "pred_lang")
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def _q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_dedup(_docs(spark, sf_dir), shingle_n=3, threshold=0.5)


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_dups(_docs(spark, sf_dir), max_hamming=3, shingle_n=2)


def _q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_bucketed_topk(
        _embs(spark, sf_dir), [0, 1, 2], k=10, n_planes=6, n_tables=4, seed=42
    )


def _q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (seeded sample + 1 Lloyd step, n_probe
    cells, exact rescore) — rows-only gate (engine-defined centroids);
    recall pinned by tests/test_training_data_ops.py::test_ivf_topk_recall."""
    return ivf_topk(
        _embs(spark, sf_dir), [0, 1, 2], k=10, n_cells=16, n_probe=4, seed=42
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "degrees": _q_degrees,
        "edgelist_roundtrip_degrees": _q_edgelist_roundtrip,
        "jsonl_roundtrip_fingerprint": _q_jsonl_roundtrip,
        "top_parts_by_engagement": _q_top_parts,
        "typed_degrees": _q_typed_degrees,
        "vocab_coverage": _q_vocab_coverage,
        "corpus_health": _q_corpus_health,
        "one_mode_projection": _q_one_mode_projection,
        "rec_backtest": _q_rec_backtest,
        "degrees_asof": _q_degrees_asof,
        "edge_churn_monthly": _q_edge_churn,
        "graph_growth": _q_graph_growth,
        "nation_engagement": _q_nation_engagement,
        "pagerank_fixed10": _q_pagerank,
        "personalized_pagerank": _q_ppr,
        "spam_mass": _q_spam_mass,
        "grouped_ppr_topk": _q_grouped_ppr,
        "ppr_sweep_community": _q_ppr_sweep,
        "pagerank_weighted": _q_pagerank_weighted,
        "connected_components": _q_components,
        "connected_components_star": _q_components_star,
        "connected_components_delta": _q_components_delta,
        "anf_histogram": _q_anf_histogram,
        "effective_diameter": _q_effective_diameter,
        "scc_labels": _q_scc,
        "bowtie_classes": _q_bowtie,
        "trending_nodes": _q_trending_nodes,
        "butterfly_count": _q_butterfly_count,
        "betweenness_sampled": _q_betweenness,
        "label_propagation_5": _q_labelprop,
        "lp_modularity": _q_lp_modularity,
        "k_core_3": _q_kcore,
        "coreness": _q_coreness,
        "k_truss_4": _q_ktruss,
        "hits_hubs_authorities": _q_hits,
        "bfs_distances": _q_bfs,
        "sssp_weighted": _q_sssp,
        "walk_corpus": _q_walk_corpus,
        "walk_sample_subgraph": _q_walk_sample,
        "node2vec_walks": _q_node2vec_walks,
        "skipgram_pairs": _q_skipgram_pairs,
        "katz_centrality": _q_katz,
        "eigenvector_centrality": _q_eigenvector,
        "adamic_adar": _q_adamic_adar,
        "link_prediction": _q_link_prediction,
        "harmonic_centrality": _q_harmonic,
        "closeness_centrality": _q_closeness,
        "landmark_labels": _q_landmark_labels,
        "landmark_dist_est": _q_landmark_dist_est,
        "component_sizes": _q_component_sizes,
        "luby_mis": _q_luby_mis,
        "wl_refinement": _q_wl_refinement,
        "greedy_coloring": _q_greedy_coloring,
        "densest_subgraph": _q_densest_subgraph,
        "triangle_count": _q_triangles,
        "triangles_per_vertex": _q_triangles_per_vertex,
        "local_clustering": _q_local_clustering,
        "reciprocity": _q_reciprocity,
        "degree_assortativity": _q_assortativity,
        "powerlaw_alpha": _q_powerlaw_alpha,
        "degree_gini": _q_degree_gini,
        "triangle_significance": _q_triangle_significance,
        "directed_triad_census": _q_triad_census,
        "rich_club": _q_rich_club,
        "intersection_similarity_cosine": _q_similarity,
        "intersection_similarity_jaccard": _q_similarity_jaccard,
        "intersection_similarity_overlap": _q_similarity_overlap,
        "intersection_similarity_inverse_degree": _q_similarity_invdeg,
        "intersection_similarity_scaled": _q_similarity_scaled,
        "top_second_degree_by_count": _q_second_degree,
        "second_degree_tweet_recs": _q_second_degree_tweet_recs,
        "second_degree_filtered": _q_second_degree_filtered,
        "adjacency_skip": _q_adjacency_skip,
        "adjacency_numbered": _q_adjacency_numbered,
        "top_parts_recent": _q_top_parts_recent,
        "social_proof": _q_social_proof,
        "simrank_pairs": _q_simrank,
        "salsa_subgraph_det": _q_salsa,
        "salsa_montecarlo": _q_salsa_mc,
        "metadata_recs_ptype": _q_metadata_recs,
        "events_top_users": _q_events_top_users,
        "cms_heavy_hitters": _q_cms_heavy_hitters,
        "hll_distinct_users": _q_hll_distinct_users,
        "session_stats": _q_session_stats,
        "event_burstiness": _q_burstiness,
        "event_transitions": _q_event_transitions,
        "markov_backtest": _q_markov_backtest,
        "events_daily": _q_events_daily,
        "quality_quantiles": _q_quality_quantiles,
        "reach_2hop": _q_reach_2hop,
        "random_multigraph_neighbors": _q_rmgn,
        "degree_histogram": _q_degree_histogram,
        "exact_dedup": _q_exact_dedup,
        "ngram_jaccard_dups": _q_ngram_jaccard,
        "exact_substring_dups": _q_exact_substring,
        "substring_dedup_rewrite": _q_substring_rewrite,
        "dedup_keep_list": _q_dedup_keep_list,
        "dedup_keep_list_delta": _q_dedup_keep_list_delta,
        "dedup_rate_by_source": _q_dedup_rate_by_source,
        "corpus_select": _q_corpus_select,
        "corpus_sample": _q_corpus_sample,
        "coverage_select": _q_coverage_select,
        "source_quality_rollup": _q_source_rollup,
        "vocab_stats": _q_vocab_stats,
        "embedding_keep_list": _q_embedding_keep_list,
        "embedding_near_dups": _q_embedding_dups,
        "ann_topk_cosine": _q_ann_topk,
        "mutual_nn_pairs": _q_mutual_nn,
        "kmeans_assign": _q_kmeans,
        "semdedup_keep_list": _q_semdedup,
        "embedding_cluster_stats": _q_embedding_cluster_stats,
        "token_count": _q_token_count,
        "pii_scrub_planted": _q_pii_scrub_planted,
        "latest_capture": _q_latest_capture,
        "redirect_resolution": _q_redirect_resolution,
        "host_graph_fold": _q_host_graph_fold,
        "anchor_text_summary": _q_anchor_summary,
        "mirror_hosts": _q_mirror_hosts,
        "page_change_rate": _q_page_change_rate,
        "kn_bigram_topk": _q_kn_bigram_topk,
        "kn_doc_perplexity": _q_kn_doc_perplexity,
        "gopher_quality_flags": _q_gopher_flags,
        "warc_roundtrip_fidelity": _q_warc_roundtrip,
        "winnowing_fingerprints": _q_winnowing,
        "bpe_merge_stats": _q_bpe_merge_stats,
        "source_token_kl": _q_source_token_kl,
        "bm25_topk": _q_bm25_topk,
        "containment_pairs": _q_containment_pairs,
        "containment_topk": _q_containment_topk,
        "pack_sequences": _q_pack_sequences,
        "chunk_documents": _q_chunk_documents,
        "quality_score": _q_quality,
        "crossdoc_dup_fraction": _q_crossdoc_dup,
        "source_boilerplate": _q_source_boilerplate,
        "gram_novelty": _q_gram_novelty,
        "unigram_logprob": _q_unigram_logprob,
        "curriculum_buckets": _q_curriculum_buckets,
        "dsir_logratio": _q_dsir_logratio,
        "zipf_alpha": _q_zipf_alpha,
        "degree_quantiles": _q_degree_quantiles,
        "repetition_stats": _q_repetition,
        "tfidf_top_terms": _q_tfidf,
        "collocations_pmi": _q_collocations,
        "tfidf_cosine_pairs": _q_tfidf_cosine,
        "decontamination_flags": _q_decontamination,
        "bloom_decontamination": _q_bloom_decontamination,
        "paragraph_dedup_rewrite": _q_paragraph_dedup,
        "content_fingerprint": _q_fingerprint,
        "language_id": _q_language_id,
        "langid_confusion": _q_langid_confusion,
        "minhash_near_dups": _q_minhash,
        "simhash_near_dups": _q_simhash,
        "lsh_ann_topk": _q_lsh_ann,
        "ivf_ann_topk": _q_ivf_ann,
    }


def oracle_sql() -> dict[str, str]:
    cte = testdata.oracle_cte()
    out = {
        "degrees": cte
        + """
, e AS (SELECT DISTINCT src, dst FROM graph_edges),
od AS (SELECT src AS id, COUNT(*) AS c FROM e GROUP BY src),
ind AS (SELECT dst AS id, COUNT(*) AS c FROM e GROUP BY dst)
SELECT COALESCE(od.id, ind.id) AS id,
       COALESCE(od.c, 0) AS out_degree,
       COALESCE(ind.c, 0) AS in_degree
FROM od FULL OUTER JOIN ind ON od.id = ind.id
""",
        "top_parts_by_engagement": cte
        + """
SELECT dst AS id, COUNT(*) AS degree
FROM interactions GROUP BY dst
ORDER BY degree DESC, id DESC LIMIT 20
""",
        "typed_degrees": cte
        + """
SELECT src AS id, edge_type, CAST(COUNT(*) AS BIGINT) AS degree
FROM interactions GROUP BY src, edge_type
""",
        "vocab_coverage": rf"""
WITH w AS MATERIALIZED (
  SELECT CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
         ELSE string_split_regex(trim(text), '\s+') END AS w
  FROM documents),
tok AS MATERIALIZED (SELECT unnest(w) AS t FROM w),
total AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tok),
counts AS MATERIALIZED (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
ranked AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY c DESC, t ASC) AS rk,
         SUM(c) OVER (ORDER BY c DESC, t ASC
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM counts),
ks(k) AS (SELECT * FROM (VALUES {", ".join(f"({k})" for k in VOCAB_COVERAGE_KS)}))
SELECT ks.k,
       ROUND(CAST(ranked.cum AS DOUBLE) / (SELECT n FROM total), 6)
         AS vocab_share
FROM ranked JOIN ks ON ranked.rk = ks.k
""",
        "corpus_health": r"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_empty,
       CAST(SUM(CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END) < 10
                THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END)
            AS BIGINT) AS total_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents
""",
        "one_mode_projection": oracles.one_mode_projection_sql(2),
        "rec_backtest": oracles.rec_backtest_sql(
            BACKTEST_CUTOFF, BACKTEST_K
        ),
        "butterfly_count": oracles.butterfly_count_sql(),
        "betweenness_sampled": oracles.betweenness_sampled_sql(
            BETW_SOURCES, BETW_DEPTH
        ),
        "degrees_asof": oracles.degrees_asof_sql(ASOF_CUTOFF),
        "edge_churn_monthly": oracles.edge_churn_monthly_sql(),
        "graph_growth": cte
        + """
, fs AS MATERIALIZED (
  SELECT src, dst, MIN(date_trunc('month', ts)) AS month
  FROM interactions GROUP BY src, dst),
monthly AS MATERIALIZED (
  SELECT month, CAST(COUNT(*) AS BIGINT) AS new_edges
  FROM fs GROUP BY month)
SELECT month, new_edges,
       CAST(SUM(new_edges) OVER (ORDER BY month
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_edges
FROM monthly
""",
        "nation_engagement": cte
        + """
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_interactions,
       CAST(COUNT(DISTINCT i.src) AS BIGINT) AS n_customers,
       ROUND(SUM(i.weight), 6) AS total_weight
FROM interactions i
JOIN customer c ON i.src = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
        "pagerank_fixed10": oracles.pagerank_fixed_sql(PR_ITERS),
        "personalized_pagerank": oracles.personalized_pagerank_fixed_sql(
            PPR_ITERS, PPR_SEEDS
        ),
        "spam_mass": oracles.spam_mass_sql(SPAM_ITERS, TRUST_SEEDS),
        "grouped_ppr_topk": oracles.grouped_ppr_sql(
            GPPR_ITERS, GPPR_SEEDS, k=20
        ),
        "ppr_sweep_community": oracles.ppr_sweep_sql(
            SWEEP_ITERS, SWEEP_SEEDS, SWEEP_K
        ),
        "pagerank_weighted": oracles.pagerank_weighted_fixed_sql(WPR_ITERS),
        "connected_components": oracles.connected_components_fixed_sql(CC_ITERS),
        "connected_components_star": oracles.connected_components_fixed_sql(
            CC_ITERS
        ),
        # delta path must land on the same fixpoint as the full-graph
        # converged hash-min oracle
        "connected_components_delta": oracles.connected_components_fixed_sql(
            CC_ITERS
        ),
        "anf_histogram": oracles.anf_histogram_sql(ANF_ITERS),
        "bowtie_classes": oracles.bowtie_sql(BOWTIE_ITERS),
        "effective_diameter": oracles.effective_diameter_sql(ANF_ITERS),
        "trending_nodes": cte
        + f"""
SELECT dst AS id,
       CAST(SUM(CASE WHEN ts >= TIMESTAMP '{TREND_MID}' THEN 1 ELSE 0 END)
            AS BIGINT) AS recent,
       CAST(SUM(CASE WHEN ts <  TIMESTAMP '{TREND_MID}' THEN 1 ELSE 0 END)
            AS BIGINT) AS prior,
       ROUND((SUM(CASE WHEN ts >= TIMESTAMP '{TREND_MID}' THEN 1 ELSE 0 END)
              + CAST(1.0 AS DOUBLE))
           / (SUM(CASE WHEN ts <  TIMESTAMP '{TREND_MID}' THEN 1 ELSE 0 END)
              + CAST(1.0 AS DOUBLE)), 6) AS trend
FROM interactions
WHERE ts >= TIMESTAMP '{TREND_START}' AND ts < TIMESTAMP '{TREND_END}'
GROUP BY dst
ORDER BY trend DESC, id ASC LIMIT 20
""",
        "label_propagation_5": oracles.label_propagation_fixed_sql(LP_ITERS),
        "lp_modularity": oracles.lp_modularity_sql(LP_ITERS),
        "k_core_3": oracles.k_core_fixed_sql(KCORE_K, KCORE_ITERS),
        "coreness": oracles.coreness_sql(CORENESS_ITERS),
        "k_truss_4": oracles.k_truss_fixed_sql(KTRUSS_K, KTRUSS_ITERS),
        "hits_hubs_authorities": oracles.hits_fixed_sql(HITS_ITERS),
        "bfs_distances": oracles.bfs_fixed_sql(BFS_SOURCE, BFS_ITERS),
        "sssp_weighted": oracles.sssp_fixed_sql(BFS_SOURCE, SSSP_ITERS),
        "walk_corpus": oracles.hash_walk_corpus_sql(WALK_LEN),
        "walk_sample_subgraph": oracles.walk_sample_subgraph_sql(
            SAMPLE_WALK_LEN, SAMPLE_SEED_PCT
        ),
        "node2vec_walks": oracles.node2vec_walks_sql(WALK_LEN, *N2V_WEIGHTS),
        "skipgram_pairs": oracles.skipgram_pairs_sql(
            WALK_LEN, SKIPGRAM_WINDOW
        ),
        "katz_centrality": oracles.katz_fixed_sql(KATZ_ALPHA, KATZ_ITERS),
        "eigenvector_centrality": oracles.eigenvector_fixed_sql(EIGEN_ITERS),
        "adamic_adar": oracles.adamic_adar_sql(
            AA_MAX_CENTER_DEGREE, AA_MIN_COMMON
        ),
        "harmonic_centrality": oracles.harmonic_fixed_sql(
            tuple(HARMONIC_SOURCES), BFS_ITERS
        ),
        "closeness_centrality": oracles.closeness_fixed_sql(
            tuple(HARMONIC_SOURCES), BFS_ITERS
        ),
        "link_prediction": oracles.link_prediction_sql(
            AA_MAX_CENTER_DEGREE, AA_MIN_COMMON
        ),
        "landmark_labels": oracles.landmark_labels_sql(LANDMARKS, LM_ITERS),
        "landmark_dist_est": oracles.landmark_dist_est_sql(
            LANDMARKS, LM_ITERS, LM_PAIR_IDS
        ),
        "component_sizes": oracles.component_sizes_sql(CC_ITERS),
        "luby_mis": oracles.luby_mis_sql(MIS_ITERS),
        "wl_refinement": oracles.wl_refinement_sql(WL_ROUNDS),
        "greedy_coloring": oracles.greedy_coloring_sql(
            COLORING_COLORS, COLORING_MIS_ITERS
        ),
        "densest_subgraph": oracles.densest_subgraph_sql(DENSEST_ROUNDS),
        "triangle_count": oracles.triangle_count_sql(),
        "triangles_per_vertex": oracles.triangles_per_vertex_sql(),
        "local_clustering": oracles.local_clustering_sql(),
        "reciprocity": oracles.reciprocity_sql(),
        "degree_assortativity": oracles.degree_assortativity_sql(),
        "powerlaw_alpha": oracles.powerlaw_alpha_sql(PL_DMIN),
        "degree_gini": oracles.degree_gini_sql(),
        "triangle_significance": oracles.triangle_significance_sql(),
        "directed_triad_census": oracles.directed_triad_census_sql(),
        "dedup_rate_by_source": oracles.dedup_rate_by_source_sql(
            0.9, cc_iters=12
        ),
        "rich_club": oracles.rich_club_sql(RICH_CLUB_KS),
        "intersection_similarity_cosine": oracles.similarity_cosine_sql(),
        "intersection_similarity_jaccard": oracles.similarity_jaccard_sql(),
        "intersection_similarity_overlap": oracles.similarity_overlap_sql(),
        "intersection_similarity_inverse_degree": oracles.similarity_inverse_degree_sql(),
        "intersection_similarity_scaled": oracles.similarity_scaled_sql(),
        "top_second_degree_by_count": oracles.second_degree_sql(),
        "second_degree_tweet_recs": oracles.second_degree_sql(
            tweet_proof_type=0, min_user_social_proof_size=2, n_seeds=30
        ),
        "second_degree_filtered": oracles.second_degree_filtered_sql(),
        "adjacency_skip": oracles.adjacency_skip_sql(),
        "adjacency_numbered": oracles.adjacency_numbered_sql(),
        "top_parts_recent": oracles.top_parts_recent_sql(),
        "social_proof": oracles.social_proof_sql(),
        "simrank_pairs": oracles.simrank_pairs_sql(
            SIMRANK_SEEDS, SIMRANK_C, SIMRANK_ITERS
        ),
        "salsa_subgraph_det": oracles.salsa_subgraph_sql(),
        "metadata_recs_ptype": oracles.metadata_recs_sql(),
        "events_top_users": """
SELECT user_id, ROUND(SUM(value), 6) AS total_value,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
ORDER BY total_value DESC, user_id DESC LIMIT 20
""",
        "cms_heavy_hitters": oracles.cms_heavy_hitters_sql(
            CMS_WIDTH, CMS_DEPTH, CMS_TOPK
        ),
        "hll_distinct_users": oracles.hll_distinct_users_sql(HLL_M),
        "session_stats": oracles.session_stats_sql(),
        "event_burstiness": oracles.event_burstiness_sql(),
        "event_transitions": oracles.event_transitions_sql(),
        "markov_backtest": oracles.markov_backtest_sql(MARKOV_CUTOFF),
        "events_daily": """
SELECT date_trunc('day', ts) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 6) AS total_value
FROM events GROUP BY day
""",
        "quality_quantiles": f"""
SELECT d.lang,
       ROUND(quantile_cont(quality, 0.5), 6) AS q5,
       ROUND(quantile_cont(quality, 0.9), 6) AS q9,
       ROUND(quantile_cont(quality, 0.99), 6) AS q99
FROM ( {oracles.quality_score_sql(tuple(_STOPWORDS))} ) qq
JOIN documents d ON qq.doc_id = d.doc_id
GROUP BY d.lang
""",
        "reach_2hop": testdata.oracle_cte()
        + """
, e AS MATERIALIZED (SELECT DISTINCT src, dst FROM interactions),
seeds(seed) AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT)), (2), (3)))
SELECT s.seed, CAST(COUNT(DISTINCT e2.src) AS BIGINT) AS reach
FROM seeds s
JOIN e e1 ON e1.src = s.seed
JOIN e e2 ON e2.dst = e1.dst AND e2.src <> s.seed
GROUP BY s.seed ORDER BY s.seed
""",
        # random_multigraph_neighbors: seeded RNG — rows-only check
        "degree_histogram": oracles.degree_histogram_sql(),
        "exact_dedup": oracles.exact_dedup_sql(),
        "ngram_jaccard_dups": oracles.ngram_jaccard_sql(0.9),
        "exact_substring_dups": oracles.exact_substring_pairs_sql(
            SUBSTR_WINDOW, SUBSTR_DF_CAP
        ),
        "substring_dedup_rewrite": oracles.substring_dedup_rewrite_sql(
            SUBSTR_WINDOW
        ),
        "dedup_keep_list": oracles.dedup_keep_list_sql(0.9, iters=12),
        # incremental == batch: the delta query must reproduce the
        # full-corpus keep-list exactly, so it shares the batch twin
        "dedup_keep_list_delta": oracles.dedup_keep_list_sql(0.9, iters=12),
        "corpus_select": oracles.corpus_select_sql(
            _LANG_MARKERS, tuple(_STOPWORDS)
        ),
        "corpus_sample": oracles.hash_threshold_sample_sql(
            SAMPLE_FRACS, SAMPLE_DEFAULT
        ),
        "coverage_select": oracles.coverage_select_sql(
            COVERAGE_K, COVERAGE_N
        ),
        "source_quality_rollup": oracles.source_quality_rollup_sql(
            tuple(_STOPWORDS)
        ),
        "vocab_stats": oracles.vocab_stats_sql(20),
        "embedding_keep_list": oracles.embedding_keep_list_sql(0.3, iters=16),
        "embedding_near_dups": oracles.embedding_near_dups_sql(0.3),
        "ann_topk_cosine": oracles.ann_topk_sql(),
        "mutual_nn_pairs": oracles.mutual_nn_sql(MNN_SPLIT),
        "kmeans_assign": oracles.kmeans_assign_sql(KMEANS_K, KMEANS_ITERS),
        "semdedup_keep_list": oracles.semdedup_keep_list_sql(
            KMEANS_K, KMEANS_ITERS, SEMDEDUP_TAU
        ),
        "embedding_cluster_stats": oracles.embedding_cluster_stats_sql(),
        "token_count": oracles.token_count_sql(),
        "pii_scrub_planted": oracles.pii_scrub_sql(),
        "latest_capture": oracles.latest_capture_sql(),
        "redirect_resolution": oracles.redirect_resolution_sql(
            REDIRECT_ROUNDS
        ),
        "host_graph_fold": oracles.host_graph_fold_sql(),
        "anchor_text_summary": oracles.anchor_text_summary_sql(),
        "mirror_hosts": oracles.mirror_hosts_sql(),
        "page_change_rate": oracles.page_change_rate_sql(),
        "kn_bigram_topk": oracles.kn_bigram_topk_sql(KN_TOPK),
        "kn_doc_perplexity": oracles.kn_doc_perplexity_sql(),
        "gopher_quality_flags": oracles.gopher_quality_flags_sql(),
        "warc_roundtrip_fidelity": oracles.warc_roundtrip_sql(),
        "winnowing_fingerprints": oracles.winnowing_sql(),
        "bpe_merge_stats": oracles.bpe_merge_stats_sql(BPE_TOPK),
        "source_token_kl": oracles.source_token_kl_sql(),
        "bm25_topk": oracles.bm25_topk_sql(BM25_TERMS),
        "containment_pairs": oracles.containment_pairs_sql(
            CONTAIN_N, CONTAIN_T
        ),
        "containment_topk": oracles.containment_topk_sql(
            CONTAIN_N, CONTAIN_T, CONTAIN_K
        ),
        "pack_sequences": oracles.pack_sequences_sql(PACK_SEQ_LEN),
        "chunk_documents": oracles.chunk_documents_sql(
            CHUNK_TOKENS, CHUNK_OVERLAP
        ),
        "quality_score": oracles.quality_score_sql(tuple(_STOPWORDS)),
        "crossdoc_dup_fraction": oracles.crossdoc_dup_fraction_sql(CROSSDOC_N),
        "source_boilerplate": oracles.source_boilerplate_sql(
            BOILER_N, BOILER_FRAC
        ),
        "gram_novelty": oracles.gram_novelty_sql(CROSSDOC_N),
        "dsir_logratio": oracles.dsir_logratio_sql(
            DSIR_LANG, DSIR_QUANTILE
        ),
        "unigram_logprob": oracles.unigram_logprob_sql(),
        "curriculum_buckets": oracles.curriculum_buckets_sql(),
        "zipf_alpha": oracles.zipf_alpha_sql(ZIPF_CMIN),
        "degree_quantiles": oracles.degree_quantiles_sql(),
        "repetition_stats": oracles.repetition_stats_sql(),
        "tfidf_top_terms": oracles.tfidf_top_terms_sql(5),
        "collocations_pmi": oracles.collocations_pmi_sql(5),
        "tfidf_cosine_pairs": oracles.tfidf_cosine_pairs_sql(0.5, 0.2),
        "decontamination_flags": oracles.decontamination_sql(
            DECON_N, DECON_MOD
        ),
        "bloom_decontamination": oracles.bloom_decontamination_sql(
            DECON_N, DECON_MOD, BLOOM_M_BITS, BLOOM_K
        ),
        "paragraph_dedup_rewrite": oracles.paragraph_dedup_sql(PARA_TOKENS),
        "content_fingerprint": oracles.content_fingerprint_sql(),
        "language_id": oracles.language_id_sql(_LANG_MARKERS),
        "langid_confusion": f"""
SELECT d.lang, l.pred_lang, CAST(COUNT(*) AS BIGINT) AS n
FROM documents d JOIN ({oracles.language_id_sql(_LANG_MARKERS)}) l
  USING (doc_id)
GROUP BY d.lang, l.pred_lang
""",
        "minhash_near_dups": oracles.minhash_near_dups_sql(
            num_hashes=128, shingle_n=3, bands=32, threshold=0.5, seed=42
        ),
        "simhash_near_dups": oracles.simhash_near_dups_sql(
            max_hamming=3, shingle_n=2
        ),
        # random_multigraph_neighbors / salsa_montecarlo / lsh_ann_topk /
        # ivf_ann_topk: engine-defined (seeded-RNG) semantics —
        # pytest-oracled, rows-only here
    }
    # the round-trip gate must land on byte-identical ground truth to
    # `degrees`: same SQL twin, so a hash match proves the edge-list
    # write/read cycle lost nothing.
    out["edgelist_roundtrip_degrees"] = out["degrees"]
    # full-row fidelity twin computed on the parquet directly — the
    # Spark side computes it on the JSONL round-trip of the same table.
    out["jsonl_roundtrip_fingerprint"] = """
SELECT doc_id,
       md5(concat_ws(chr(31), CAST(doc_id AS VARCHAR), text, lang,
                     source, CAST(n_chars AS VARCHAR))) AS row_md5
FROM documents
"""
    return out
