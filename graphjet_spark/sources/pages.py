"""Deterministic Common-Crawl-style page corpus synthesizer (FIXTURES.md §1).

Produces the input_hint table ``pages(url string, warc_ts timestamp,
html binary, text string, lang string)`` with the true edge set known in
closed form, so the edge-build pipeline (plans/build_edges.py) is tested
by exact set equality rather than by re-running the extractor.

Structural fixtures baked in (all seeded; seed=42 default):
- Zipf-ish power-law out-degrees (GraphJet's modeling assumption,
  reference graphjet-core/src/main/java/com/twitter/graphjet/bipartite/
  edgepool/PowerLawDegreeEdgePool.java:32-58);
- one mega-hub url receiving ~10% of all links (skew fixture for
  vertex-splitting / two-phase aggregation);
- >=2 mutually unreachable components (links never cross component
  boundaries) for connected-components tests;
- ~1% dangling pages with zero out-links (PageRank dangling mass);
- ~2% duplicate links within a page (dedup fixture, reference
  algorithms/counting/TopSecondDegreeByCount.java:99-103).

Everything is vectorized numpy/pandas; the corpus is generated in
chunks so the bench tier (200k pages) streams through ``createDataFrame``
via Arrow without a driver-side blowup.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from graphjet_spark.functions.webtext import escape_text

SEED = 42

_VOCAB = np.array(
    "the a of link graph page rank walk node edge web crawl index query "
    "salsa seed hub spider spark shuffle join sort hash part batch stream "
    "text data table scan merge count filter top key value fast small "
    "dup window".split()
)
_LANGS = np.array(["en", "de", "fr", "es", "pt", "it"])
_EPOCH_NS = pd.Timestamp("2026-01-01", tz=None).value


@dataclass(frozen=True)
class CorpusSpec:
    n_pages: int
    seed: int = SEED
    n_components: int = 2
    # P(redirect to hub) for component-0 links; with 2 components holding
    # ~half the links each, 0.2 here ≈ 10% of ALL links at the mega-hub.
    hub_fraction: float = 0.20
    dangling_fraction: float = 0.01
    dup_fraction: float = 0.02
    mean_degree: float = 12.0


def _urls(spec: CorpusSpec) -> tuple[pd.Series, np.ndarray]:
    """url per page + component id per page. Hosts partition pages into
    components; the mega-hub is page 0 of component 0."""
    n = spec.n_pages
    comp = np.arange(n) % spec.n_components
    hosts_per_comp = max(1, n // 64 // spec.n_components) or 1
    rng = np.random.default_rng(spec.seed)
    host_idx = rng.integers(0, hosts_per_comp, size=n)
    urls = pd.Series(
        np.char.add(
            np.char.add(
                np.char.add("https://c", comp.astype("U2")),
                np.char.add("-h", host_idx.astype("U4")),
            ),
            np.char.add(".example.org/p", np.arange(n).astype("U8")),
        )
    )
    return urls, comp


def synthesize_pages(
    spec: CorpusSpec,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Return ``(pages, true_links)``.

    ``pages``      — url, warc_ts (datetime64[us]), html (bytes), text, lang
    ``true_links`` — src_url, dst_url, anchor; one row per href
                     occurrence (duplicates preserved), in within-page
                     href order.
    """
    n = spec.n_pages
    rng = np.random.default_rng(spec.seed)
    urls, comp = _urls(spec)
    url_arr = urls.to_numpy()

    # --- out-degrees: bounded zipf, with forced dangling pages ---------
    deg = np.minimum(rng.zipf(1.35, size=n), int(spec.mean_degree * 8))
    deg = np.minimum(deg + rng.poisson(spec.mean_degree * 0.5, size=n), n - 1)
    dangling = rng.random(n) < spec.dangling_fraction
    dangling[0] = False  # keep the hub a real page with out-links
    deg[dangling] = 0

    # --- link targets: same-component uniform, ~10% redirected to hub --
    src_idx = np.repeat(np.arange(n), deg)
    m = len(src_idx)
    # uniform candidate within the source's component (excluding self)
    per_comp = {c: np.flatnonzero(comp == c) for c in range(spec.n_components)}
    cand = np.empty(m, dtype=np.int64)
    for c, members in per_comp.items():
        mask = comp[src_idx] == c
        cand[mask] = members[rng.integers(0, len(members), size=int(mask.sum()))]
    self_loop = cand == src_idx
    cand[self_loop] = (cand[self_loop] + 1) % n  # cheap deterministic fixup
    # re-fix any that hopped component at the wraparound
    bad = comp[cand] != comp[src_idx]
    for c, members in per_comp.items():
        b = bad & (comp[src_idx] == c)
        cand[b] = members[0] if members[0] != 0 else members[min(1, len(members) - 1)]
    hub_hits = (rng.random(m) < spec.hub_fraction) & (comp[src_idx] == 0) & (src_idx != 0)
    cand[hub_hits] = 0  # the mega-hub
    # ~2% duplicated hrefs: duplicate a random sample of link slots
    n_dup = int(m * spec.dup_fraction)
    if n_dup:
        dup_slots = rng.integers(0, m, size=n_dup)
        src_idx = np.concatenate([src_idx, src_idx[dup_slots]])
        cand = np.concatenate([cand, cand[dup_slots]])
        order = np.argsort(src_idx, kind="stable")
        src_idx, cand = src_idx[order], cand[order]

    # anchor text: one vocab word per link, a closed-form function of
    # the (src, dst) pair — rng-free so the anchor ground truth is
    # exactly reconstructible by tests (and duplicated hrefs carry the
    # same anchor, like real boilerplate nav links)
    anchor_words = _VOCAB[(src_idx * 31 + cand) % len(_VOCAB)]
    true_links = pd.DataFrame(
        {
            "src_url": url_arr[src_idx],
            "dst_url": url_arr[cand],
            "anchor": anchor_words,
        }
    )

    # --- text payload: 8-40 vocab words, entity-unsafe chars sprinkled -
    n_words = rng.integers(8, 41, size=n)
    words = _VOCAB[rng.integers(0, len(_VOCAB), size=int(n_words.sum()))]
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    text = pd.Series(
        [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    )
    spicy = rng.random(n) < 0.05  # exercise the entity round trip
    text = text.where(~spicy, text + ' & <"tags">')

    # --- assemble html ------------------------------------------------
    link_df = pd.DataFrame(
        {"i": src_idx, "dst": url_arr[cand], "a": anchor_words}
    )
    anchors = (
        ('<li><a href="' + link_df["dst"] + '">' + link_df["a"] + "</a></li>")
        .groupby(link_df["i"])
        .agg("".join)
    )
    anchor_col = pd.Series("", index=np.arange(n))
    anchor_col.update(anchors)
    html = (
        "<html><head><title>p</title></head><body><p>"
        + escape_text(text)
        + "</p><ul>"
        + anchor_col
        + "</ul></body></html>"
    )

    pages = pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.to_datetime(
                _EPOCH_NS + np.arange(n) * 1_000_000_000, unit="ns"
            ).astype("datetime64[us]"),
            "html": html.str.encode("utf-8"),
            "text": text,
            "lang": _LANGS[rng.integers(0, len(_LANGS), size=n)],
        }
    )
    return pages, true_links


_CAPTURE_EPOCH = 1_767_225_600  # 2026-01-01T00:00:00Z, seconds


def synth_captures(docs):
    """Multi-capture ``pages``-shaped fixture derived from the
    ``documents`` table by pure JVM column expressions — unlike
    :func:`synthesize_pages` (numpy), every transform here is
    SQL-expressible, so the DuckDB gate twin
    (:func:`graphjet_spark.oracles.latest_capture_sql`) reproduces it
    exactly and `plans/build_edges.py::latest_capture` gets a full
    value oracle.

    Per document (origin ``h{doc_id%16}.example.org``, path
    ``/Docs/{doc_id}`` — capital D pins path-case preservation):

    - capture 0 (oldest, ts+0): lowercase origin + ``#top`` fragment;
    - capture 1 (newest, ts+5): UPPERCASE scheme+host + trailing slash;
    - capture 2 (ts+2, only ``doc_id % 3 == 0``): trailing slash AND a
      fragment after it (pins strip-fragment-then-strip-slash order).

    All variants canonicalize to the same URL, so ``latest_capture``
    must pick capture 1 everywhere and report ``n_captures`` of 3 or 2.
    ``warc_ts`` values are distinct by construction — the md5 tiebreak
    never fires here; tie semantics are pinned separately by
    ``tests/test_pages_pipeline.py::test_latest_capture_newest_wins``.
    """
    from pyspark.sql import functions as F

    d = docs.select("doc_id", "text", "lang")
    k = (F.col("doc_id") % 16).cast("string")
    did = F.col("doc_id").cast("string")
    lower_u = F.concat(F.lit("https://h"), k, F.lit(".example.org/Docs/"), did)
    upper_u = F.concat(F.lit("HTTPS://H"), k, F.lit(".EXAMPLE.ORG/Docs/"), did)

    def cap(base, url_col, off):
        return base.select(
            url_col.alias("url"),
            F.timestamp_seconds(
                F.lit(_CAPTURE_EPOCH) + F.col("doc_id") * 10 + F.lit(off)
            ).alias("warc_ts"),
            F.col("text").cast("binary").alias("html"),
            "text",
            "lang",
        )

    c0 = cap(d, F.concat(lower_u, F.lit("#top")), 0)
    c1 = cap(d, F.concat(upper_u, F.lit("/")), 5)
    c2 = cap(
        d.where(F.col("doc_id") % 3 == 0),
        F.concat(lower_u, F.lit("/#frag")),
        2,
    )
    return c0.unionByName(c1).unionByName(c2)


def synth_change_captures(docs, n_captures: int = 5, interval_s: int = 10):
    """Revisit-history fixture for the change-rate estimator
    (:func:`graphjet_spark.operators.crawl.page_change_rate`): every
    document becomes one URL crawled ``n_captures`` times at a regular
    ``interval_s`` cadence, and its content version bumps exactly at
    the visits ``i`` (1-based intervals) where ``(doc_id + i) % 3 == 0``
    — a closed-form change pattern (version at visit ``i`` is
    ``(doc_id + i) // 3 - doc_id // 3``), so docs cycle through three
    distinct change frequencies and the DuckDB twin reproduces the
    fixture with pure integer arithmetic.  All column expressions are
    JVM/SQL-expressible (same discipline as :func:`synth_captures`).

    Output shape: ``(url, warc_epoch BIGINT, text)``.
    """
    from pyspark.sql import functions as F

    i = F.col("i")
    did = F.col("doc_id")
    version = F.floor((did + i) / 3) - F.floor(did / 3)
    return (
        docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(int(n_captures) - 1))).alias(
                "i"
            ),
        )
        .select(
            F.concat(
                F.lit("https://h"),
                (did % 16).cast("string"),
                F.lit(".example.org/Docs/"),
                did.cast("string"),
            ).alias("url"),
            (
                F.lit(_CAPTURE_EPOCH) + did * 1000 + i * int(interval_s)
            ).cast("bigint").alias("warc_epoch"),
            F.concat(
                F.lit("doc "),
                did.cast("string"),
                F.lit(" version "),
                version.cast("bigint").cast("string"),
            ).alias("text"),
        )
    )
