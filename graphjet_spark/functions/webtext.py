"""Vectorized web-payload functions: url canonicalization, href
extraction, text extraction.

These are the engine's analogue of GraphJet's edge-extraction boundary
(reference: graphjet-demo/src/main/java/com/twitter/graphjet/demo/
TwitterStreamReader.java:129-160 — raw stream payload -> (src, dst)
pairs; hashtag text -> long id at :154).  Our payload is an HTML page
instead of a tweet, per BASELINE.json input_hint.

Contract (input_hint): extraction is **byte-identical per url** to the
pinned pure-Python oracle.  For links and anchors the kernels below ARE
that oracle (pure pandas/numpy, runnable without Spark); the engine runs
their JVM Column twins (``plans/build_edges.extract_link_rows``,
``extract_anchor_rows``, ``canonical_url_expr``), with no Python worker,
and the tests compare the two.  ``extract_text`` is both oracle and
engine: ``extract_text_table`` wraps it in ``mapInPandas``.  No per-row
Python in the text path: it is pandas C-level string ops over Arrow
record batches.
"""

from __future__ import annotations

import pandas as pd

# Pinned extraction grammar. The synthesizer (sources/pages.py) emits
# this shape; a real crawl corpus would swap these regexes for an HTML
# parser behind the same two functions.
_HREF_RE = r'href="([^"]*)"'
_ANCHOR_RE = r'<a href="([^"]*)">([^<]*)</a>'
_TEXT_RE = r"(?s)<p>(.*?)</p>"

# Minimal HTML entity codec — must round-trip with sources.pages._escape.
_UNESCAPES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&amp;", "&")]
ESCAPES = [(r, l) for (l, r) in reversed(_UNESCAPES)]


def decode_html(html: pd.Series) -> pd.Series:
    """binary -> utf-8 string (vectorized)."""
    return html.str.decode("utf-8")


def canonicalize_url(urls: pd.Series) -> pd.Series:
    """Deterministic url canonicalization: strip fragment + whitespace,
    lowercase scheme://host, drop trailing slash on non-root paths."""
    u = urls.str.strip().str.replace(r"#.*$", "", regex=True)
    # lowercase scheme://host (group 1), keep path/query case (group 2)
    u = u.str.replace(
        r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)(.*)$",
        lambda m: m.group(1).lower() + m.group(2),
        regex=True,
    )
    u = u.str.replace(r"(?<=[^/])/$", "", regex=True)
    return u


def resolve_url(hrefs: pd.Series, base_urls: pd.Series) -> pd.Series:
    """Resolve hrefs against base urls: absolute urls pass through,
    host-relative ``/path`` joins the base's scheme://host."""
    is_abs = hrefs.str.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")
    origin = base_urls.str.extract(r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)", expand=False)
    return hrefs.where(is_abs, origin.str.cat(hrefs))


def _resolve_targets(hrefs: pd.Series, base: pd.Series, idx) -> pd.Series:
    """Shared href post-processing of both extractors: resolve each
    exploded href against its page's base url, then canonicalize —
    keeping link rows and anchor rows byte-identical by construction."""
    resolved = resolve_url(
        hrefs.reset_index(drop=True), base.iloc[idx].reset_index(drop=True)
    )
    return canonicalize_url(resolved)


def extract_links(html: pd.Series, base_urls: pd.Series) -> pd.DataFrame:
    """Explode each page into its outgoing links.

    Returns a DataFrame with columns ``(page_idx, dst_url)`` where
    ``page_idx`` indexes into the input series (positional).  Duplicate
    hrefs within a page are preserved (dedup is a later, explicit stage
    — reference F11, algorithms/counting/TopSecondDegreeByCount.java:99-103).
    Catches EVERY ``href=`` (nav/link/area included) — deliberately
    broader than :func:`extract_anchors`' anchor-tag-only view.
    """
    text = decode_html(html).reset_index(drop=True)
    base = base_urls.reset_index(drop=True)
    found = text.str.findall(_HREF_RE)
    exploded = found.explode().dropna()
    if exploded.empty:
        return pd.DataFrame({"page_idx": pd.Series(dtype="int64"),
                             "dst_url": pd.Series(dtype="object")})
    idx = exploded.index.to_numpy()
    return pd.DataFrame(
        {
            "page_idx": idx,
            "dst_url": _resolve_targets(exploded, base, idx).to_numpy(),
        }
    )


def extract_anchors(html: pd.Series, base_urls: pd.Series) -> pd.DataFrame:
    """Explode each page into (link target, anchor text) pairs.

    Returns ``(page_idx, dst_url, anchor)`` — the href resolution and
    canonicalization are byte-identical to :func:`extract_links`, with
    the anchor's inner text carried alongside.  Anchor text is the
    classic off-page relevance signal (what OTHER pages call a url);
    duplicate hrefs are preserved, mirroring the link multiset."""
    text = decode_html(html).reset_index(drop=True)
    base = base_urls.reset_index(drop=True)
    found = text.str.findall(_ANCHOR_RE)
    exploded = found.explode().dropna()
    if exploded.empty:
        return pd.DataFrame(
            {
                "page_idx": pd.Series(dtype="int64"),
                "dst_url": pd.Series(dtype="object"),
                "anchor": pd.Series(dtype="object"),
            }
        )
    idx = exploded.index.to_numpy()
    hrefs = exploded.str[0]
    anchors = exploded.str[1].reset_index(drop=True)
    return pd.DataFrame(
        {
            "page_idx": idx,
            "dst_url": _resolve_targets(hrefs, base, idx).to_numpy(),
            "anchor": anchors.to_numpy(),
        }
    )


def extract_text(html: pd.Series) -> pd.Series:
    """Extract the page's text payload — byte-identical to the corpus
    ``text`` column (the per-row invariant vs the reference)."""
    s = decode_html(html).str.extract(_TEXT_RE, expand=False).fillna("")
    for ent, ch in _UNESCAPES:
        s = s.str.replace(ent, ch, regex=False)
    return s


def escape_text(s: pd.Series) -> pd.Series:
    """Inverse of the entity unescape in :func:`extract_text` (used by
    the synthesizer so the round trip is exact)."""
    for ch, ent in ESCAPES:
        s = s.str.replace(ch, ent, regex=False)
    return s
