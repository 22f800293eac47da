"""End-to-end: synthesized web corpus -> edge table -> north-rule
algorithms, validating against the corpus's closed-form structure
(SURVEY.md §7 phase 2 — the full pipeline slice)."""

from __future__ import annotations

import numpy as np
import pytest

from graphjet_spark.plans.build_edges import build_edges, simple_graph, vertex_table
from graphjet_spark.plans.components import connected_components
from graphjet_spark.plans.pagerank import pagerank
from graphjet_spark.sources.pages import CorpusSpec, synthesize_pages


@pytest.fixture(scope="module")
def web(spark):
    spec = CorpusSpec(600, n_components=2)
    pdf, true_links = synthesize_pages(spec)
    pages = spark.createDataFrame(pdf).repartition(8)
    edges = build_edges(pages).cache()
    edges.count()
    return pdf, true_links, edges


def test_components_match_corpus_structure(spark, web):
    pdf, _, edges = web
    verts = {r["id"]: r["url"] for r in vertex_table(edges).collect()}
    comp = {
        r["id"]: r["component"]
        for r in connected_components(spark, simple_graph(edges)).collect()
    }
    # every vertex's component agrees with its url's component prefix
    by_prefix = {}
    for vid, c in comp.items():
        prefix = verts[vid].split("//c")[1][0]  # '0' or '1'
        by_prefix.setdefault(prefix, set()).add(c)
    # the corpus guarantees links never cross component boundaries, so
    # the two url families must map to disjoint component-label sets
    assert by_prefix["0"] & by_prefix["1"] == set()


def test_pagerank_hub_dominates(spark, web):
    pdf, true_links, edges = web
    pr = pagerank(spark, simple_graph(edges), tol=1e-8)
    top = pr.orderBy(pr.pagerank.desc()).first()
    verts = {r["id"]: r["url"] for r in vertex_table(edges).collect()}
    # the mega-hub (page 0) receives ~10% of all links -> top PageRank
    assert verts[top["id"]] == pdf["url"].iloc[0]
    # mass conservation across the whole web graph
    total = pr.groupBy().sum("pagerank").first()[0]
    assert total == pytest.approx(1.0, abs=1e-9)


def test_pagerank_matches_numpy_on_web_graph(spark, web):
    _, true_links, edges = web
    pairs = sorted(
        set(
            zip(
                np.asarray(true_links["src_url"]),
                np.asarray(true_links["dst_url"]),
            )
        )
    )
    from .test_micro_graphs import numpy_pagerank

    want = numpy_pagerank(pairs)
    verts = {r["url"]: r["id"] for r in vertex_table(edges).collect()}
    got = {
        r["id"]: r["pagerank"]
        for r in pagerank(spark, simple_graph(edges), tol=1e-8).collect()
    }
    assert len(got) == len(want)
    for url, rank in want.items():
        assert got[verts[url]] == pytest.approx(rank, abs=1e-6)


def test_training_data_pipeline_end_to_end(spark):
    """Capstone: the full LLM-data path a user would run, chained over
    the real sf0.001 documents table — dedup keep-list -> quality +
    language filter -> PII scrub -> chunking -> sequence packing —
    with conservation invariants at every boundary.  Each operator is
    value-oracled individually by its gate; this test proves they
    COMPOSE (schemas line up, keep-lists filter, token accounting is
    conserved end to end)."""
    from pyspark.sql import functions as F

    from graphjet_spark.operators.corpus import (
        chunk_documents,
        pack_sequences,
    )
    from graphjet_spark.operators.dedup import dedup_keep_list
    from graphjet_spark.operators.textstats import (
        pii_scrub,
        quality_score,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_docs = docs.count()

    # 1. dedup: every doc maps to exactly one keeper; keepers keep
    # themselves
    keep = dedup_keep_list(docs, threshold=0.9)
    assert keep.count() == n_docs
    keepers = keep.where(F.col("doc_id") == F.col("keep_id"))
    n_keep = keepers.count()
    assert 0 < n_keep <= n_docs

    # 2. select: keepers x quality floor x language
    scored = quality_score(docs).join(
        docs.select("doc_id", "lang", "text"), "doc_id"
    )
    selected = (
        keepers.select("doc_id")
        .join(scored, "doc_id")
        .where((F.col("quality") >= 0.5) & (F.col("lang") == "en"))
    )
    n_sel = selected.count()
    assert 0 < n_sel < n_keep

    # 3. PII scrub: corpus is synthetic-clean, so the pass must be an
    # identity with zero counts
    scrubbed = pii_scrub(selected)
    assert (
        scrubbed.where(
            (F.col("n_email") > 0)
            | (F.col("n_ipv4") > 0)
            | (F.col("n_phone") > 0)
        ).count()
        == 0
    )
    clean = scrubbed.select(
        "doc_id", F.col("text_scrubbed").alias("text")
    )

    # 4. chunking: tokens conserved doc-by-doc under overlap accounting
    chunks = chunk_documents(clean, chunk_tokens=32, overlap=8)
    per_doc = chunks.groupBy("doc_id").agg(
        F.sum("n_chunk_tokens").alias("chunk_toks"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.max(F.col("start_tok") + F.col("n_chunk_tokens") - 1).alias(
            "max_tok"
        ),
    )
    truth = clean.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_toks"),
    )
    j = per_doc.join(truth, "doc_id")
    # every selected doc is chunked, the windows reach exactly the last
    # token, and overlap accounting holds: sum(chunk tokens) =
    # n_toks + 8 * (n_chunks - 1) except a short final stride
    assert j.count() == n_sel
    assert j.where(F.col("max_tok") != F.col("n_toks")).count() == 0
    bad = j.where(
        (F.col("chunk_toks") - F.col("n_toks"))
        > 8 * (F.col("n_chunks") - 1)
    )
    assert bad.count() == 0

    # 5. packing: exact global token accounting across sequences
    packed = pack_sequences(clean, seq_len=128)
    tot = packed.agg(
        F.sum("n_tokens").alias("toks"),
        F.max(F.col("start_offset") + F.col("n_tokens")).alias("end"),
        F.max("seq_last").alias("last_seq"),
    ).first()
    assert tot["toks"] == tot["end"]  # contiguous, gap-free stream
    assert tot["last_seq"] == (tot["toks"] - 1) // 128
