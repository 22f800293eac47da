"""Plan-regression CI: physical plans of EVERY gated query stay inside
the 100-TB envelope.

Two structural invariants, asserted over `.explain("formatted")` of all
130 ``queries()`` entries at sf0.001 (plan SHAPE is scale-invariant —
only AQE's runtime join choices differ, and the markers below are the
pre-AQE static strategy):

1. No ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` anywhere —
   the round-1 scale-killer class — except the hand-verified allowlist
   of scalar crossJoins (one side is a <=1-row aggregate: a total mass,
   a threshold row, a global moment) and the documented brute-force ANN
   baseline whose broadcast side is the bounded query set.
2. Scan-heavy queries keep non-empty ``PushedFilters`` on a parquet
   scan — predicate pushdown must keep reaching the source.

``localCheckpoint()`` calls truncate lineage, so a final-plan scan
alone would miss anything upstream of a checkpoint (the round-2
``mutual_nn_pairs`` cross join hid exactly this way).  The fixture
monkeypatches ``localCheckpoint`` on the concrete DataFrame class (it
overrides the abstract ``pyspark.sql.DataFrame`` method, so patching
the latter captures nothing) to capture the explain of the
PRE-checkpoint plan as well, so hidden stages are audited too.

Reference precedent for structural invariant tests: GraphJet's
bipartite/MultiSegmentPowerLawBipartiteGraphTest.java:216-258.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import DataFrame

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"

BAD = ("CartesianProduct", "BroadcastNestedLoopJoin")

# Hand-verified nested-loop joins: every entry is a crossJoin whose one
# side is a <=1-row scalar aggregate (grep `crossJoin` — each site notes
# the single-row side), or the documented bounded-broadcast baseline.
SCALAR_CROSSJOIN_ALLOW = {
    "effective_diameter",  # plans/anf.py:212 — 1-row max-neighborhood row
    "butterfly_count",  # operators/projection.py:122 — 1-row butterfly total
    "reciprocity",  # plans/graphstats.py:69 — 1-row edge totals
    "triangle_significance",  # plans/graphstats.py:332 — 1-row moment row
    "rich_club",  # plans/graphstats.py — 1-row normalizer
    "salsa_subgraph_det",  # plans/salsa.py:195 — 1-row total mass
    "salsa_montecarlo",  # plans/salsa.py:390 — 1-row total mass
    "source_token_kl",  # operators/textstats.py:395 — 1-row corpus totals
    "bm25_topk",  # operators/textstats.py:480 — 1-row avgdl row
    "unigram_logprob",  # operators/textstats.py:533 — 1-row vocab stats
    "kn_bigram_topk",  # operators/lm.py — 1-row distinct-bigram total
    "kn_doc_perplexity",  # operators/lm.py — same 1-row model scalar
    "curriculum_buckets",  # operators/textstats.py:627 — 1-row thresholds
    "dsir_logratio",  # operators/textstats.py — 1-row smoothing scalars
    # + 1-row selection threshold
    # bounded-broadcast baseline (not scalar, but not n^2 either):
    "ann_topk_cosine",  # operators/ann.py:69 — broadcast side is the
    # fixed query-id set (|Q| rows); the scale paths are lsh/ivf_ann_topk
}

# Scan-heavy queries that must keep pushing filters into the parquet
# scan (from BENCH/PLANS.md's audited markers).  Graph-topology queries
# (triangle_count, adamic_adar, rich_club, link_prediction,
# powerlaw_alpha, degree_gini, ...) are NOT here: they read the
# engine-resident GraphTables pairs relation, built once per engine
# lifetime — their final plans start at the checkpointed edge table by
# design, and the scan-side pushdown is asserted on the BUILD plan in
# test_graph_edges_build_pushes_filters below.
PUSHDOWN_REQUIRED = [
    "top_parts_recent",
    "one_mode_projection",
    "typed_degrees",
    "tfidf_cosine_pairs",
    "crossdoc_dup_fraction",
    "bm25_topk",
    "hll_distinct_users",
    "rec_backtest",
    "langid_confusion",
]

PUSHED = re.compile(r"PushedFilters: \[[^]]")


def _explain(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def all_plans(spark):
    """name -> concatenated explain output of the final plan AND every
    pre-localCheckpoint plan built while constructing it."""
    captured: list[str] = []
    cls = type(spark.range(1))
    orig = cls.localCheckpoint

    def spy(self, eager=True):
        captured.append(_explain(self))
        return orig(self, eager=eager)

    cls.localCheckpoint = spy
    plans: dict[str, str] = {}
    try:
        for name, fn in entry_mod.queries().items():
            captured.clear()
            df = fn(spark, SF_DIR)
            plans[name] = "\n".join(captured + [_explain(df)])
    finally:
        cls.localCheckpoint = orig
    return plans


def test_no_cartesian_or_nested_loop_joins(all_plans):
    offenders = {
        name: [m for m in BAD if m in plan]
        for name, plan in all_plans.items()
        if any(m in plan for m in BAD) and name not in SCALAR_CROSSJOIN_ALLOW
    }
    assert not offenders, (
        "nested-loop/cartesian join in a gated plan (r1 scale-killer "
        f"class) outside the scalar allowlist: {offenders}"
    )


def test_allowlist_is_tight(all_plans):
    """Every allowlist entry names a query and still NEEDS allowlisting
    — stale entries would quietly widen the budget for future
    regressions."""
    unknown = sorted(SCALAR_CROSSJOIN_ALLOW - all_plans.keys())
    assert not unknown, f"allowlisted but no such query (remove): {unknown}"
    stale = [
        name
        for name in SCALAR_CROSSJOIN_ALLOW
        if not any(m in all_plans[name] for m in BAD)
    ]
    assert not stale, f"allowlisted but clean (remove): {stale}"


def test_filter_pushdown_reaches_scans(all_plans):
    missing = [
        name for name in PUSHDOWN_REQUIRED if not PUSHED.search(all_plans[name])
    ]
    assert not missing, f"PushedFilters vanished from parquet scans: {missing}"


def test_graph_edges_build_prunes_columns(spark):
    """The one scan every graph-topology query amortizes: the
    GraphTables pairs relation's BUILD plan must keep column pruning at
    the parquet scans — lineitem (16 cols) down to its 3 key columns,
    orders (9 cols) down to its 2 (the per-query plans start at the
    checkpointed result, so scan hygiene is asserted here, once).  The
    edge SQL has no WHERE clauses, so ReadSchema, not PushedFilters, is
    the pushdown surface."""
    from graphjet_spark.sources import testdata

    plan = _explain(testdata.graph_edges(spark, SF_DIR))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, "no parquet ReadSchema in the graph_edges build:\n" + plan
    widths = sorted(len(s.split(",")) for s in schemas)
    assert all(w <= 3 for w in widths), (
        f"graph_edges build scan reads unpruned columns (widths {widths}):\n"
        + plan
    )
