"""Layer-1 tests (SURVEY.md §5.2): pages corpus -> edge table build.

The extraction invariant (BASELINE.json input_hint): engine-side
extraction must be byte-identical per url to the pure-pandas oracle in
``oracles.py`` (over the grammar in ``functions/webtext.py``).  Link
and anchor extraction are one JVM Column plan (no Python worker); text
extraction is an Arrow UDF.
Edge build is checked by exact set equality against the synthesizer's
closed-form link set — the GraphJet-style golden-output discipline
(reference: graphjet-core/src/test/java/com/twitter/graphjet/algorithms/
BipartiteGraphTestHelper.java:75-95) — and against the oracle on an
edge-case battery.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from graphjet_spark.operators.adjacency import (
    adjacency_blocks,
    block_summary,
    merged_degrees,
    neighbors_of,
)
from graphjet_spark.plans.build_edges import (
    assert_no_id_collisions,
    build_edges,
    extract_text_table,
    simple_graph,
    vertex_table,
)
from graphjet_spark.sources.pages import CorpusSpec, synthesize_pages


@pytest.fixture(scope="module")
def corpus(spark):
    spec = CorpusSpec(500, n_components=2)
    pdf, true_links = synthesize_pages(spec)
    pages = spark.createDataFrame(pdf).repartition(8).cache()
    pages.count()
    return pdf, true_links, pages


def test_synthesis_deterministic():
    spec = CorpusSpec(200)
    a_pages, a_links = synthesize_pages(spec)
    b_pages, b_links = synthesize_pages(spec)
    assert a_pages.equals(b_pages) and a_links.equals(b_links)


def test_extracted_text_byte_identical(corpus):
    pdf, _, pages = corpus
    got = extract_text_table(pages).toPandas().set_index("url")["text"]
    want = pdf.set_index("url")["text"]
    assert len(got) == len(want)
    joined = pd.DataFrame({"got": got, "want": want})
    mism = joined[joined.got != joined.want]
    assert mism.empty, mism.head()
    # byte-identical, not merely equal as str
    assert all(
        g.encode() == w.encode() for g, w in zip(joined.got, joined.want)
    )


def test_edge_build_exact_vs_ground_truth(corpus):
    _, true_links, pages = corpus
    got = (
        build_edges(pages)
        .select("src_url", "dst_url")
        .toPandas()
        .sort_values(["src_url", "dst_url"])
        .reset_index(drop=True)
    )
    want = (
        true_links[["src_url", "dst_url"]]
        .sort_values(["src_url", "dst_url"])
        .reset_index(drop=True)
    )
    assert got.equals(want)  # per-occurrence multiset equality, dups included


def test_anchor_rows_exact_vs_ground_truth(corpus):
    from graphjet_spark.plans.build_edges import extract_anchor_rows

    _, true_links, pages = corpus
    cols = ["src_url", "dst_url", "anchor"]
    got = (
        extract_anchor_rows(pages)
        .toPandas()
        .sort_values(cols)
        .reset_index(drop=True)
    )
    want = true_links[cols].sort_values(cols).reset_index(drop=True)
    assert got.equals(want)  # multiset equality incl. the anchor text


def test_anchor_summary_matches_pandas_mirror(corpus):
    from graphjet_spark.plans.build_edges import (
        anchor_text_summary,
        extract_anchor_rows,
    )

    _, true_links, pages = corpus
    got = {
        r["dst_url"]: (
            r["n_anchor_refs"],
            r["n_referrers"],
            r["n_anchor_terms"],
            r["top_anchor"],
            r["top_anchor_n"],
        )
        for r in anchor_text_summary(extract_anchor_rows(pages)).collect()
    }
    want = {}
    for dst, g in true_links.groupby("dst_url"):
        vc = g["anchor"].value_counts()
        top_n = int(vc.max())
        # engine tiebreak: count desc, then anchor lexicographically desc
        top_a = max(vc[vc == top_n].index)
        want[dst] = (
            len(g),
            g["src_url"].nunique(),
            g["anchor"].nunique(),
            top_a,
            top_n,
        )
    assert got == want


def test_vertex_ids_no_collisions_and_schema(corpus):
    _, _, pages = corpus
    edges = build_edges(pages)
    assert [f.name for f in edges.schema.fields] == [
        "src", "dst", "src_url", "dst_url", "warc_ts", "edge_type",
    ]
    verts = vertex_table(edges)
    assert_no_id_collisions(verts)


def test_column_pruning_reaches_scan(corpus, tmp_path):
    """The edge build must scan only (url, html, warc_ts) — text/lang
    pruned at the parquet reader (SURVEY.md O10)."""
    _, _, pages = corpus
    p = str(tmp_path / "pages.parquet")
    pages.write.parquet(p)
    plan = build_edges(
        pages.sparkSession.read.parquet(p)
    )._jdf.queryExecution().executedPlan().toString()
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l or "Scan" in l)
    assert "text" not in scan_line and "lang" not in scan_line


def test_adjacency_point_ops(spark):
    from graphjet_spark.operators.adjacency import numbered_edge, skip_neighbors

    pairs = [(1, d) for d in range(100, 140)] + [(2, 200)]
    e = spark.createDataFrame(pairs, "src bigint, dst bigint")
    adj = adjacency_blocks(e, partitions=4, split_threshold=8).cache()
    # full ordered neighbor list via offsets: i-th lookup is consistent
    seq = [numbered_edge(adj, 1, i).first()["dst"] for i in (1, 8, 9, 40)]
    assert all(s is not None for s in seq)
    all_n = {r["dst"] for r in neighbors_of(adj, 1).collect()}
    assert set(seq) <= all_n and len(all_n) == 40
    # skip(n): exactly deg-n neighbors remain, disjoint from first n
    rest = [r["dst"] for r in skip_neighbors(adj, 1, 35).collect()]
    assert len(rest) == 5
    got_first35 = {numbered_edge(adj, 1, i).first()["dst"] for i in range(1, 36)}
    assert set(rest) == all_n - got_first35
    adj.unpersist()


def test_adjacency_blocks_invariants(corpus):
    _, true_links, pages = corpus
    edges = simple_graph(build_edges(pages))
    adj = adjacency_blocks(edges, partitions=8, split_threshold=16).cache()
    # re-merged degrees == groupBy degrees
    got = {r["src"]: r["out_degree"] for r in merged_degrees(adj).collect()}
    want = (
        true_links.drop_duplicates()
        .groupby("src_url")
        .size()
    )
    assert sorted(got.values()) == sorted(want.to_list())
    # mega-hub src (degree > threshold) must be split into >1 sub rows
    splits = adj.groupBy("src").count().filter("count > 1").count()
    assert splits >= 1
    # neighbors re-merge exactly: spot-check the highest-degree src
    from pyspark.sql import functions as F

    top = merged_degrees(adj).orderBy(F.desc("out_degree")).first()
    nbrs = {r["dst"] for r in neighbors_of(adj, top["src"]).collect()}
    assert len(nbrs) == top["out_degree"]
    # block summary covers all rows
    summ = block_summary(adj).toPandas()
    assert summ["rows"].sum() == adj.count()
    adj.unpersist()


def test_host_graph_matches_ground_truth_fold(corpus):
    """Host-level webgraph fold equals the same fold of the
    synthesizer's exact link ground truth (pandas mirror)."""
    import re

    from graphjet_spark.plans.build_edges import host_graph

    _, true_links, pages = corpus
    got = {
        (r["src_host"], r["dst_host"]): (r["n_links"], r["n_src_pages"])
        for r in host_graph(build_edges(pages)).collect()
    }

    rx = re.compile(r"^[a-z]+://([^/]+)")
    agg: dict = {}
    for src_url, dst_url in zip(
        true_links["src_url"], true_links["dst_url"]
    ):
        key = (rx.match(src_url).group(1), rx.match(dst_url).group(1))
        links, pages_set = agg.setdefault(key, [0, set()])
        agg[key][0] += 1
        agg[key][1].add(src_url)
    want = {k: (n, len(s)) for k, (n, s) in agg.items()}
    assert got == want


def test_canonical_url_expr_parity(spark):
    """The JVM Column canonicalizer must stay byte-identical to the
    pandas oracle — a drift here would silently split a URL's captures
    across two canonical keys.  Java's ``trim`` strips spaces only and
    its ``.``/``$`` stop at \\r, \\x85, \\u2028 and \\u2029; Python's do
    neither."""
    from pyspark.sql import functions as F

    from graphjet_spark.functions.webtext import canonicalize_url
    from graphjet_spark.plans.build_edges import canonical_url_expr

    # every str.isspace() character (str.strip strips them all)
    ws = "".join(c for c in map(chr, range(0x3001)) if c.isspace())
    battery = [
        "http://Example.COM/Path/Page.html",
        "https://site.org/a/b/#frag",
        "  http://ws.example.net/x  ",
        "http://example.com/",
        "http://example.com/dir/",
        "http://example.com",
        "HTTP://UPPER.example.com/MixedPath?Q=V#sec",
        "ftp+ssh://Host.Net/file/",
        "no-scheme/relative/path/",
        "http://example.com/a//b//",
        "http://example.com/#",
        "\thttp://Tab.example/x/\t",
        "\nhttp://nl.example/x/\n",
        "\xa0http://NBSP.example/A/\xa0",
        "\x85http://nel.example/B/\x85",
        "\u3000http://ideo.example/C/\u3000",
        ws + "http://All.example/D/" + ws,
        "http://frag.example/p#a\rb",
        "http://frag.example/p#a\x85b/",
        "http://frag.example/p#a\u2028b",
        "http://Host.COM/a\nb",
        "http://Host.COM/a/\r",
        "http://Host.COM/a/\n#x",
        "http://ÜBER.Example.DE/Straße/",
        "http://ΟΔΟΣ.GR/",
        "",
        "   ",
    ]
    want = canonicalize_url(pd.Series(battery)).tolist()
    got = [
        r["c"]
        for r in spark.createDataFrame([(u,) for u in battery], "url string")
        .select(canonical_url_expr(F.col("url")).alias("c"))
        .collect()
    ]
    assert got == want


def _none(v):
    return None if v is None or (isinstance(v, float) and math.isnan(v)) else v


def _multiset(rows):
    return sorted(
        (tuple(_none(v) for v in r) for r in rows),
        key=lambda t: tuple((v is None, v or "") for v in t),
    )


def _battery_pages(spark):
    """Edge cases the synthesizer never emits: relative/absolute/empty/
    fragment/duplicate hrefs, a scheme-less and a null base url, null
    and empty html, a page with no links, uppercase (non-ASCII) hosts,
    and the whitespace and line-terminator spellings Java and Python
    regexes treat differently."""
    import datetime as dt

    rows = [
        ("http://A.com/x/",
         '<a href="/rel">R</a><a href="http://B.com/abs/">Abs</a><a href="/rel">R</a>'),
        ("noscheme/page", '<a href="/rel">R</a><a href="http://C.com/">C</a>'),
        (None, '<a href="/rel">R</a><a href="http://D.com/">D</a>'),
        ("http://nullhtml.com/", None),
        ("http://empty.com/", ""),
        ("http://nolinks.com/", "<p>no links here</p>"),
        ("http://e.com/",
         '<a href="">E</a><a href="#">H</a><link href="/css"><a href=" /ws ">W</a>'),
        ("http://ÜBER.com/p",
         '<a href="HTTP://ÄÖ.COM/Q/">U</a><a href="/\tx\n">T</a><a href="/a#b\rc">F</a>'),
        ("\u3000http://Ws.com/y\xa0",
         '<a href="/z/\x85">N</a><a href="/q\n#r">Q</a><a href="/s/\u2029">S</a>'),
    ]
    ts = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        [(u, None if h is None else h.encode(), ts) for u, h in rows],
        columns=["url", "html", "warc_ts"],
    )
    schema = "url string, html binary, warc_ts timestamp"
    return pdf, spark.createDataFrame(pdf.astype(object), schema)


def test_link_and_anchor_rows_match_oracle_on_edge_cases(spark):
    """The Column-plan extractors equal the webtext oracle as multisets;
    a scheme-less base gives a null dst_url for its relative hrefs."""
    from graphjet_spark import oracles
    from graphjet_spark.functions import webtext
    from graphjet_spark.plans.build_edges import (
        extract_anchor_rows,
        extract_link_rows,
    )

    pdf, pages = _battery_pages(spark)

    def src(idx):
        return webtext.canonicalize_url(pdf["url"].iloc[idx].reset_index(drop=True))

    links = oracles.extract_links(pdf["html"], pdf["url"])
    want = zip(src(links["page_idx"]), links["dst_url"])
    got = extract_link_rows(pages).select("src_url", "dst_url").collect()
    assert _multiset(got) == _multiset(want)
    assert ("noscheme/page", None) in _multiset(got)
    assert (None, None) in _multiset(got)

    anchors = oracles.extract_anchors(pdf["html"], pdf["url"])
    want = zip(src(anchors["page_idx"]), anchors["dst_url"], anchors["anchor"])
    assert _multiset(extract_anchor_rows(pages).collect()) == _multiset(want)


def test_invalid_utf8_page_raises(spark):
    """Malformed html bytes fail the extraction, as the oracle's decode
    does, rather than yielding replacement-character links."""
    from graphjet_spark import oracles
    from graphjet_spark.plans.build_edges import extract_link_rows

    html = b'<a href="/x\xff">bad</a>'
    with pytest.raises(UnicodeDecodeError):
        oracles.extract_links(pd.Series([html]), pd.Series(["http://a.com/"]))
    pages = spark.createDataFrame(
        [("http://a.com/", bytearray(html), None)],
        "url string, html binary, warc_ts timestamp",
    )
    with pytest.raises(Exception, match="MALFORMED_CHARACTER_CODING"):
        extract_link_rows(pages).collect()


_PYTHON_NODES = ("MapInPandas", "PythonUDF", "ArrowEvalPython", "BatchEvalPython")


def test_extraction_plans_have_no_python_nodes(corpus, tmp_path):
    """Link and anchor extraction run in the JVM: no executed plan of
    the batch edge build, the anchor rows or the streaming ingest holds
    a Python node."""
    from graphjet_spark.plans.build_edges import extract_anchor_rows
    from graphjet_spark.streaming import ingest

    pdf, _, pages = corpus
    spark = pages.sparkSession
    for df in (build_edges(pages), extract_anchor_rows(pages)):
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not [n for n in _PYTHON_NODES if n in plan], plan

    pages_dir = str(tmp_path / "pages")
    spark.createDataFrame(pdf.iloc[:50]).coalesce(1).write.parquet(pages_dir)
    q = (
        ingest.edge_stream(ingest.stream_pages(spark, pages_dir))
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
        plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    finally:
        q.stop()
    assert "Generate" in plan
    assert not [n for n in _PYTHON_NODES if n in plan], plan


def test_latest_capture_newest_wins(spark, corpus):
    """Re-captures of the same canonical URL collapse to the newest
    warc_ts row; fragment/case variants of the URL collapse too; the
    tie-break on (md5(html), url) is deterministic."""
    from pyspark.sql import functions as F

    from graphjet_spark.plans.build_edges import latest_capture

    pdf, _, pages = corpus
    n_urls = pages.count()

    # older re-capture (must lose) + newer re-capture (must win) of the
    # first page, under fragment/host-case URL variants
    first = pages.orderBy("url").limit(1)
    older = first.select(
        F.concat(F.col("url"), F.lit("#frag")).alias("url"),
        (F.col("warc_ts") - F.expr("INTERVAL 400 DAYS")).alias("warc_ts"),
        F.col("html"),
        F.col("text"),
        F.lit("xx").alias("lang"),
    )
    newer = first.select(
        F.col("url"),
        (F.col("warc_ts") + F.expr("INTERVAL 400 DAYS")).alias("warc_ts"),
        F.col("html"),
        F.concat(F.lit("RECRAWL "), F.col("text")).alias("text"),
        F.col("lang"),
    )
    got = latest_capture(pages.unionByName(older).unionByName(newer))
    assert got.count() == n_urls  # variants collapsed, nothing else lost

    target = first.collect()[0]
    win = got.where(F.col("url") == target["url"]).collect()
    assert len(win) == 1
    assert win[0]["n_captures"] == 3
    assert win[0]["text"].startswith("RECRAWL ")
    assert win[0]["warc_ts"] > target["warc_ts"]

    # everything untouched passes through verbatim (single capture)
    untouched = got.where(F.col("n_captures") == 1)
    assert untouched.count() == n_urls - 1


def test_resolve_redirects_chains_and_cycle(spark):
    """Pointer doubling resolves straight chains to their terminal with
    exact hop counts, flags cycle members as unresolved, and leaves
    single-hop redirects untouched — the planted-cycle branch the DAG
    gate fixture cannot exercise."""
    from pyspark.sql import functions as F

    from graphjet_spark.plans.build_edges import resolve_redirects

    # chain 1 -> 2 -> 3 -> 4 -> 10 (terminal), cycle 20 -> 21 -> 20,
    # feeder 22 -> 20 (into the cycle), lone hop 30 -> 31
    rows = [(1, 2), (2, 3), (3, 4), (4, 10), (20, 21), (21, 20), (22, 20), (30, 31)]
    redirects = spark.createDataFrame(rows, "src long, dst long")
    got = {
        r["src"]: (r["final_dst"], r["chain_len"], r["resolved"])
        for r in resolve_redirects(redirects, rounds=3).collect()
    }
    assert len(got) == len(rows)
    assert got[1] == (10, 4, 1)
    assert got[2] == (10, 3, 1)
    assert got[3] == (10, 2, 1)
    assert got[4] == (10, 1, 1)
    assert got[30] == (31, 1, 1)
    # cycle members and the feeder never resolve: final pointer still
    # redirects after 2**rounds hops, flagged 0 rather than looped
    assert got[20][2] == 0 and got[21][2] == 0 and got[22][2] == 0
    assert got[20][0] in (20, 21) and got[22][0] in (20, 21)


def test_resolve_redirects_long_chain_overflow_flag(spark):
    """A chain longer than 2**rounds hops reports resolved=0 (honest
    overflow) at low rounds and resolved=1 once rounds cover it."""
    from graphjet_spark.plans.build_edges import resolve_redirects

    # 0 -> 1 -> ... -> 6 (terminal 6): head needs 6 hops
    rows = [(i, i + 1) for i in range(6)]
    redirects = spark.createDataFrame(rows, "src long, dst long")
    low = {
        r["src"]: r
        for r in resolve_redirects(redirects, rounds=2).collect()
    }
    assert low[0]["resolved"] == 0 and low[0]["chain_len"] == 4
    high = {
        r["src"]: r
        for r in resolve_redirects(redirects, rounds=3).collect()
    }
    assert high[0]["resolved"] == 1
    assert high[0]["final_dst"] == 6 and high[0]["chain_len"] == 6


def test_mirror_hosts_planted_pairs(spark):
    """Bharat-Broder duplicate-host detection on a hand-built corpus:
    B fully mirrors A's smaller half (overlap 1.0), C is disjoint, and
    a cross-site boilerplate page present on every host is excluded by
    the df-cap (it must create no A-C evidence)."""
    from graphjet_spark.operators.mirrors import mirror_hosts

    rows = (
        [("A", f"unique page {i}") for i in range(4)]
        + [("B", f"unique page {i}") for i in range(3)]  # mirror of A
        + [("C", "other one"), ("C", "other two")]
        + [(h, "404 not found") for h in ("A", "B", "C")]  # boilerplate
    )
    docs = spark.createDataFrame(rows, "host string, text string")
    out = {
        (r["host_a"], r["host_b"]): r
        for r in mirror_hosts(docs, max_hosts_per_fp=2).collect()
    }
    assert set(out) == {("A", "B")}
    ab = out[("A", "B")]
    # boilerplate excluded: shared=3 not 4, sizes count it (it IS hosted)
    assert ab["shared_docs"] == 3
    assert (ab["size_a"], ab["size_b"]) == (5, 4)
    assert ab["overlap"] == 0.75
    assert ab["jaccard"] == 0.5

    # raising the cap lets the boilerplate page vote: C now shares one
    # doc with each, but stays below min_shared=2 — still only (A, B).
    wide = {
        (r["host_a"], r["host_b"]): r
        for r in mirror_hosts(docs, max_hosts_per_fp=16).collect()
    }
    assert set(wide) == {("A", "B")}
    assert wide[("A", "B")]["shared_docs"] == 4


def test_page_change_rate_estimators(spark):
    """Cho-Garcia-Molina change-rate estimation on a hand-built revisit
    log: a never-changing URL (lambda 0), an always-changing URL (the
    X = n regime where the naive estimator saturates but the +0.5
    correction stays finite), a once-changed URL with the closed-form
    p_stale 1 - (n-X+.5)/(n+.5) at daily cadence, and a single-capture
    URL (no interval — must be dropped)."""
    from graphjet_spark.operators.crawl import page_change_rate

    day = 86_400
    rows = []
    for i in range(5):
        rows.append(("static", i * day, "same"))
        rows.append(("hot", i * day, f"v{i}"))
        rows.append(("once", i * day, "old" if i < 2 else "new"))
    rows.append(("lone", 0, "x"))
    caps = spark.createDataFrame(
        rows, "url string, warc_epoch long, text string"
    )
    out = {r["url"]: r for r in page_change_rate(caps).collect()}

    assert set(out) == {"static", "hot", "once"}  # lone dropped
    assert out["static"]["n_changes"] == 0
    assert out["static"]["lambda_naive_day"] == 0.0
    assert out["static"]["lambda_cgm_day"] == 0.0
    assert out["static"]["p_stale_1d"] == 0.0

    # X = n = 4: naive caps at the visit rate (1/day); CGM stays finite
    hot = out["hot"]
    assert hot["n_changes"] == 4
    assert hot["lambda_naive_day"] == 1.0
    assert hot["lambda_cgm_day"] == round(-math.log(0.5 / 4.5), 6)
    assert hot["p_stale_1d"] == round(1 - 0.5 / 4.5, 6)

    # X = 1 of n = 4 at exactly daily cadence: p_stale = 1 - 3.5/4.5
    once = out["once"]
    assert once["n_changes"] == 1
    assert once["lambda_naive_day"] == round(1 / 4, 6)
    assert once["p_stale_1d"] == round(1 - 3.5 / 4.5, 6)
