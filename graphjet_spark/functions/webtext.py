"""Vectorized web-payload functions: url canonicalization, href
extraction, text extraction.

These are the engine's analogue of GraphJet's edge-extraction boundary
(reference: graphjet-demo/src/main/java/com/twitter/graphjet/demo/
TwitterStreamReader.java:129-160 — raw stream payload -> (src, dst)
pairs; hashtag text -> long id at :154).  Our payload is an HTML page
instead of a tweet, per BASELINE.json input_hint.

Contract (input_hint): extraction is **byte-identical per url** to the
pinned pure-Python oracle.  For links and anchors that oracle is
``oracles.extract_links`` / ``extract_anchors`` (pure pandas over the
grammar and ``canonicalize_url`` below, runnable without Spark); the
engine runs their JVM Column twins (``plans/build_edges.
extract_link_rows``, ``extract_anchor_rows``, ``canonical_url_expr``),
with no Python worker, and the tests compare the two.  ``extract_text``
is both oracle and engine: ``extract_text_table`` wraps it in
``mapInPandas``.  No per-row
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
