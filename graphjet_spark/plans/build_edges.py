"""Edge-table build: pages -> hyperlink edge table (FIXTURES.md §2).

The write path of the engine — the analogue of GraphJet's ingestion
(reference: graphjet-demo/src/main/java/com/twitter/graphjet/demo/
TwitterStreamReader.java:129-160 -> bipartite/
LeftIndexedMultiSegmentBipartiteGraph.java:144-158), re-expressed as one
declarative Spark plan:

    pages ──regexp_extract_all + explode──> raw link rows
          ──xxhash64(url)──> (src, dst, src_url, dst_url, warc_ts, edge_type)

Scale notes (100 TB design):
- extraction is one JVM Column plan (decode, regexp_extract_all,
  explode, regexp canonicalization): no Python worker, no Arrow
  round trip, and NARROW (no shuffle) — each page partition explodes
  to link rows in place; output partition count = input partition
  count, so partition sizing is controlled upstream by
  ``spark.sql.files.maxPartitionBytes`` on the pages scan.  The
  pure-pandas ``oracles.extract_links`` / ``extract_anchors`` are its
  oracle.
- per-page work (canonical ``src_url``, the base origin, the href
  array) is projected BEFORE the explode, so it runs once per page,
  not once per link.
- only (url, html, warc_ts) are read — column pruning drops text/lang
  at the scan (verified in tests via the physical plan's ReadSchema).
- ids are ``xxhash64(url)`` computed JVM-side (whole-stage codegen), not
  in Python; the id space needs no global coordination (no
  monotonically_increasing_id, no driver bottleneck). Collisions are
  checked by ``assert_no_id_collisions`` (count-distinct, one agg).
- GraphJet maps longs -> dense ints per segment to halve memory
  (bipartite/segment/LeftIndexedBipartiteGraphSegment.java:43-48); we
  keep 64-bit hashes and rely on parquet dictionary + delta encoding.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from graphjet_spark.functions import webtext

# ``str.strip()`` strips every ``str.isspace()`` character, not just
# the spaces ``F.trim`` drops; ``btrim`` over this set matches it.
_WS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680\u2000\u2001\u2002"
    "\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f"
    "\u205f\u3000"
)
_SCHEME = r"^[a-zA-Z][a-zA-Z0-9+.-]*://"
_ORIGIN = r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)"


def _link_rows(pages: DataFrame, items: Column, href: str, *out) -> DataFrame:
    """Shared href resolution of both extractors, keeping link rows and
    anchor rows byte-identical by construction.

    Per page: canonical ``src_url``, the base url's ``scheme://host``
    (null, not ``regexp_extract``'s ``""``, for a scheme-less base — so
    its relative hrefs get a null ``dst_url``, as the oracle's do) and
    ``_t``, the html decoded as UTF-8 (malformed bytes raise).  Per
    element ``_l`` of the array ``items`` (an expression over ``_t``;
    ``href`` names the element's href): absolute hrefs pass through,
    others join the origin, then canonicalize.  Returns ``src_url``,
    ``dst_url`` and ``out``.

    ``items`` is evaluated inside the explode: exploding a projected
    array attribute instead lets the optimizer infer a non-empty-array
    filter and push it below the projection, running the regexps twice
    per page."""
    url = F.col("url")
    per_page = pages.select(
        "*",
        canonical_url_expr(url).alias("src_url"),
        F.when(url.rlike(_ORIGIN), F.regexp_extract(url, _ORIGIN, 1)).alias(
            "_origin"
        ),
        F.decode("html", "UTF-8").alias("_t"),
    )
    h = F.col(href)
    dst = F.when(h.rlike(_SCHEME), h).otherwise(F.concat("_origin", h))
    return per_page.select("*", F.explode(items).alias("_l")).select(
        "src_url", canonical_url_expr(dst).alias("dst_url"), *out
    )


def extract_link_rows(pages: DataFrame) -> DataFrame:
    """pages -> one row per href occurrence (duplicates preserved)."""
    hrefs = F.regexp_extract_all("_t", F.lit(webtext._HREF_RE), 1)
    return _link_rows(pages.select("url", "html", "warc_ts"), hrefs, "_l", "warc_ts")


def extract_anchor_rows(pages: DataFrame) -> DataFrame:
    """pages -> one (src_url, dst_url, anchor) row per href occurrence.

    The anchor-text channel of the link extractor: same href resolution
    and canonicalization as :func:`extract_link_rows`, carrying the
    link's inner text.  Narrow JVM stage, duplicates preserved."""
    rx = F.lit(webtext._ANCHOR_RE)
    pairs = F.arrays_zip(
        F.regexp_extract_all("_t", rx, 1).alias("href"),
        F.regexp_extract_all("_t", rx, 2).alias("anchor"),
    )
    anchor = F.col("_l.anchor").alias("anchor")
    return _link_rows(pages.select("url", "html"), pairs, "_l.href", anchor)


def anchor_text_summary(anchor_rows: DataFrame) -> DataFrame:
    """Per-target anchor-text profile: what OTHER pages call each url.

    ``(dst_url, n_anchor_refs, n_referrers, n_anchor_terms, top_anchor,
    top_anchor_n)`` — total inbound anchor occurrences, distinct
    referring pages, distinct anchor strings, and the modal anchor
    (ties broken by the lexicographically GREATEST anchor, the natural
    order of ``max(struct(n, anchor))``).

    Scale shape: the modal anchor is a two-phase aggregation — first
    groupBy (dst_url, anchor) with map-side combine (absorbs the
    mega-hub's inbound skew), then a groupBy over the far smaller
    per-(dst, distinct-anchor) table.  No window over a hub-sized
    partition anywhere."""
    counts = anchor_rows.groupBy("dst_url", "anchor").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    modal = counts.groupBy("dst_url").agg(
        F.sum("n").cast("bigint").alias("n_anchor_refs"),
        F.count(F.lit(1)).cast("bigint").alias("n_anchor_terms"),
        F.max(F.struct(F.col("n"), F.col("anchor"))).alias("_m"),
    )
    referrers = (
        anchor_rows.select("dst_url", "src_url")
        .distinct()  # pre-shuffle partial distinct absorbs hub skew
        .groupBy("dst_url")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_referrers"))
    )
    return modal.join(referrers, "dst_url").select(
        "dst_url",
        "n_anchor_refs",
        "n_referrers",
        "n_anchor_terms",
        F.col("_m.anchor").alias("top_anchor"),
        F.col("_m.n").alias("top_anchor_n"),
    )


_TEXT_SCHEMA = StructType(
    [StructField("url", StringType()), StructField("text", StringType())]
)


def _text_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {"url": pdf["url"], "text": webtext.extract_text(pdf["html"])}
        )


def extract_text_table(pages: DataFrame) -> DataFrame:
    """pages -> (url, text) via the pinned Arrow-UDF extractor.

    The input_hint per-row invariant: output ``text`` must be
    byte-identical per url to the corpus ``text`` column.  Narrow stage
    (no shuffle), Arrow-batched, no per-row Python.
    """
    return pages.select("url", "html").mapInPandas(
        _text_batches, schema=_TEXT_SCHEMA
    )


def build_edges(pages: DataFrame) -> DataFrame:
    """pages -> edge table (src, dst, src_url, dst_url, warc_ts, edge_type).

    Raw link rows (per-occurrence); callers wanting the simple graph
    apply :func:`simple_graph`.
    """
    return extract_link_rows(pages).select(
        F.xxhash64("src_url").alias("src"),
        F.xxhash64("dst_url").alias("dst"),
        "src_url",
        "dst_url",
        "warc_ts",
        F.lit(0).alias("edge_type"),
    )


def simple_graph(edges: DataFrame) -> DataFrame:
    """Deduplicated (src, dst) pairs — input to the batch algorithms."""
    return edges.select("src", "dst").distinct()


def vertex_table(edges: DataFrame) -> DataFrame:
    """(id, url) — the url<->id dictionary (both endpoints covered)."""
    return (
        edges.select(F.col("src").alias("id"), F.col("src_url").alias("url"))
        .unionByName(
            edges.select(F.col("dst").alias("id"), F.col("dst_url").alias("url"))
        )
        .distinct()
    )


def node_meta_table(pages: DataFrame) -> DataFrame:
    """(id, meta_type, meta_id) — per-vertex metadata (FIXTURES.md §2):
    meta_type 0 = language bucket, 1 = domain id.  The analogue of
    GraphJet's int[][] node metadata (reference: graphjet-core/src/main/
    java/com/twitter/graphjet/bipartite/api/
    NodeMetadataDynamicBipartiteGraph.java:36-56, with HASHTAG/URL slots
    per algorithms/RecommendationType.java:20-24)."""
    base = pages.select(
        F.xxhash64(F.col("url")).alias("id"),
        F.col("lang"),
        F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1).alias("domain"),
    )
    lang_meta = base.select(
        "id", F.lit(0).alias("meta_type"), F.crc32(F.col("lang")).alias("meta_id")
    )
    dom_meta = base.select(
        "id", F.lit(1).alias("meta_type"), F.xxhash64(F.col("domain")).alias("meta_id")
    )
    return lang_meta.unionByName(dom_meta).distinct()


def assert_no_id_collisions(vertices: DataFrame) -> None:
    """xxhash64 collision check (FIXTURES.md: 'collision-checked')."""
    row = vertices.agg(
        F.countDistinct("id").alias("ids"), F.countDistinct("url").alias("urls")
    ).first()
    if row["ids"] != row["urls"]:
        raise ValueError(
            f"xxhash64 url collision: {row['urls']} urls -> {row['ids']} ids"
        )


def host_graph(edges: DataFrame) -> DataFrame:
    """``(src_host, dst_host, n_links, n_src_pages)`` — the host-level
    webgraph fold of the page-level edge table (what Common Crawl
    publishes as its "host graph"): inter-domain link occurrence counts
    plus the number of distinct linking pages.  Intra-host rows are
    kept — the internal/external link ratio is a standard crawl-quality
    signal.  One JVM-side regexp projection + one map-side-combined
    aggregation; at 10^12 pages the output is bounded by the (far
    smaller) host-pair count."""
    host = r"^[a-z]+://([^/]+)"
    return (
        edges.select(
            F.regexp_extract("src_url", host, 1).alias("src_host"),
            F.regexp_extract("dst_url", host, 1).alias("dst_host"),
            "src_url",
        )
        .groupBy("src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_links"),
            F.countDistinct("src_url").cast("bigint").alias("n_src_pages"),
        )
    )


def canonical_url_expr(url):
    """JVM Column twin of :func:`graphjet_spark.functions.webtext.
    canonicalize_url` (kept in lockstep by
    ``tests/test_pages_pipeline.py::test_canonical_url_expr_parity``):
    strip fragment + surrounding whitespace, lowercase the
    ``scheme://host`` origin while preserving path/query case, drop the
    trailing slash on non-root paths.  Pure regexp projection — runs at
    scan rate inside whole-stage codegen, so URL-keyed operators never
    pay an Arrow round trip for canonicalization."""
    # (?d) (UNIX_LINES): Java's ``.``/``$`` otherwise also stop at
    # \r, \x85, \u2028 and \u2029; Python's stop at \n only
    u = F.regexp_replace(F.btrim(url, F.lit(_WS)), r"(?d)#.*$", "")
    # the oracle lowercases only when ``^origin(.*)$`` matches the whole
    # string; no match extracts "" and leaves ``u`` as it is
    origin = F.regexp_extract(u, "(?d)" + _ORIGIN + ".*$", 1)
    u = F.concat(F.lower(origin), F.substr(u, F.length(origin) + 1))
    return F.regexp_replace(u, r"(?d)(?<=[^/])/$", "")


def latest_capture(pages: DataFrame) -> DataFrame:
    """One row per canonical URL: the newest capture wins — the
    Common-Crawl ingest dedup (the same page is re-captured across
    monthly snapshots; the graph/corpus build must see exactly one).

    Winner = max ``warc_ts``; ties break deterministically on
    ``(md5(html), url)`` so re-runs and engine versions agree.  Output
    carries every page column plus ``canonical_url`` and ``n_captures``
    (the capture multiplicity — a crawl-health signal).

    Scale shape: ONE ``max_by`` aggregation keyed on the canonical URL.
    Partial aggregation keeps at most one candidate row per URL per map
    partition, so the shuffle moves ~one page row per distinct URL —
    the minimum any selection must move — and never builds a window
    over hub keys or a self-join.
    """
    row = F.struct(*[F.col(c) for c in pages.columns])
    order = F.struct(
        F.col("warc_ts"), F.md5(F.col("html")).alias("tb"), F.col("url")
    )
    return (
        pages.withColumn("canonical_url", canonical_url_expr(F.col("url")))
        .groupBy("canonical_url")
        .agg(
            F.max_by(row, order).alias("_r"),
            F.count(F.lit(1)).cast("bigint").alias("n_captures"),
        )
        .select("canonical_url", "_r.*", "n_captures")
    )


def resolve_redirects(redirects: DataFrame, rounds: int = 3) -> DataFrame:
    """Transitive redirect-chain resolution by pointer doubling — the
    Common-Crawl ingest step that collapses 301/302/canonical-link
    chains so the graph/corpus build keys on final landing URLs
    (the batch analogue of a crawler chasing ``Location:`` headers;
    GraphJet never sees this layer because its ingest is pre-resolved
    tweet ids — reference graphjet-core/src/main/java/com/twitter/
    graphjet/bipartite/segment/LeftIndexedBipartiteGraphSegment.java:48
    assumes resolved long ids on arrival).

    Input: a functional redirect map ``(src, dst)`` — at most one
    outgoing redirect per ``src``.  Output one row per redirecting
    ``src``: ``(src, final_dst, chain_len, resolved)`` where
    ``final_dst`` is the pointer after ``2**rounds`` hops,
    ``chain_len`` counts hops actually taken, and ``resolved`` is 1
    iff ``final_dst`` itself redirects no further (0 = cycle member or
    a chain longer than ``2**rounds``, reported honestly rather than
    looped forever).

    Scale shape: pointer doubling is ``rounds`` self-joins on a table
    that never grows (functional graphs have |rows| = |redirecting
    urls|), so chains of length L cost ceil(log2 L) shuffles instead
    of L — the only chain-chasing shape that survives 10^12 pages,
    where vanilla iteration on a 30-hop chain would pay 30 full-table
    shuffles.  Each round joins on the current pointer key; no
    windows, no driver-side state.
    """
    # each round consumes the previous pointer table TWICE (both sides
    # of the self-join) — uncut, the recompute tree doubles per round
    # (2**rounds re-derivations of the input).  A lazy checkpoint per
    # round makes every round one scan of the previous round's blocks.
    p = redirects.select(
        "src", "dst", F.lit(1).cast("bigint").alias("chain_len")
    ).localCheckpoint(eager=False)
    for _ in range(rounds):
        q = p.select(
            F.col("src").alias("q_src"),
            F.col("dst").alias("q_dst"),
            F.col("chain_len").alias("q_len"),
        )
        p = (
            p.join(q, p["dst"] == q["q_src"], "left")
            .select(
                "src",
                F.coalesce("q_dst", "dst").alias("dst"),
                (F.col("chain_len") + F.coalesce("q_len", F.lit(0)))
                .cast("bigint")
                .alias("chain_len"),
            )
            .localCheckpoint(eager=False)
        )
    heads = redirects.select(F.col("src").alias("dst")).distinct()
    still = heads.withColumn("_h", F.lit(1))
    return p.join(still, "dst", "left").select(
        "src",
        F.col("dst").alias("final_dst"),
        "chain_len",
        F.when(F.col("_h").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("resolved"),
    )
