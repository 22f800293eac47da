"""Physical-plan audit: print the scale-relevant markers of
representative queries' plans and write BENCH/PLANS.md.

For each audited query we extract the properties the 100-TB design
depends on, straight from `.explain("formatted")` output:

- parquet scans show PushedFilters / narrow ReadSchema (pruning);
- aggregations appear as partial + final HashAggregate pairs
  (map-side combine — hub keys never concentrate rows);
- small dimension sides broadcast (BroadcastHashJoin), big joins
  sort-merge on their keys;
- WholeStageCodegen spans cover the expression work (JVM, no Python
  in the hot path).

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from graphjet_spark.session import get_spark  # noqa: E402

AUDIT = [
    "degrees",
    "top_parts_recent",
    "triangle_count",
    "intersection_similarity_cosine",
    "token_count",
    "adamic_adar",
    "one_mode_projection",
    "session_stats",
    "typed_degrees",
    "vocab_coverage",
    "corpus_health",
    "tfidf_cosine_pairs",
    "rich_club",
    "link_prediction",
    "crossdoc_dup_fraction",
    "unigram_logprob",
    "powerlaw_alpha",
    "source_token_kl",
    "bm25_topk",
    "containment_pairs",
    "simrank_pairs",
    "wl_refinement",
    "bowtie_classes",
    "ppr_sweep_community",
    "cms_heavy_hitters",
    "hll_distinct_users",
    "mutual_nn_pairs",
    "bpe_merge_stats",
    "rec_backtest",
    "markov_backtest",
    "coreness",
    "coverage_select",
    "degree_gini",
    "langid_confusion",
    "walk_sample_subgraph",
    "curriculum_buckets",
    "chunk_documents",
    "mirror_hosts",
    "page_change_rate",
    "kn_doc_perplexity",
    "gopher_quality_flags",
    "source_boilerplate",
    "latest_capture",
    "redirect_resolution",
    "substring_dedup_rewrite",
]

MARKERS = (
    ("PushedFilters: \\[[^]]", "filter pushdown reaches the scan"),
    ("HashAggregate", "hash aggregation (partial+final pairs = map-side combine)"),
    ("BroadcastHashJoin", "broadcast join (small side shipped, no shuffle)"),
    ("SortMergeJoin", "sort-merge join (co-partitioned big sides)"),
    ("codegen id", "whole-stage codegen ops"),
    ("PythonUDF|ArrowEval|MapInPandas|FlatMapGroupsInPandas", "Python stage"),
    # watch for multi-consumer relations re-deriving the corpus: a high
    # count means lineage re-scans that a localCheckpoint cut should bound
    ("Scan parquet", "parquet scan nodes"),
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("explain_audit")
    qs = entry_mod.queries()
    lines = [
        "# Physical-plan audit",
        "",
        f"`.explain(formatted)` markers per audited query ({sf_dir}),",
        "generated by `python tools/explain_audit.py`.",
        "",
        "| query | marker counts |",
        "|---|---|",
    ]
    for name in AUDIT:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        counts = []
        for pat, label in MARKERS:
            n = len(re.findall(pat, plan))
            if n:
                counts.append(f"{label}: {n}")
        lines.append(f"| {name} | {'; '.join(counts) or '—'} |")
        print(name, "->", "; ".join(counts))
    lines += [
        "",
        "Python stages appear only where the operator is intrinsically",
        "vectorized-Python (Arrow batch kernels: minhash signatures,",
        "language-ID profiles) — never in relational",
        "hot paths.  Codegen ids only surface in non-AQE plans here",
        "(`AdaptiveSparkPlan isFinalPlan=false` assigns them at run",
        "time), so their absence in an AQE query row is a printing",
        "artifact, not an interpreted plan.",
    ]
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "PLANS.md",
    )
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote", out)


if __name__ == "__main__":
    main()
