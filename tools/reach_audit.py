"""Name-based reachability audit of the engine's top-level definitions.

Every top-level ``def``, ``class`` and assignment in ``graphjet_spark/``
(minus ``oracles.py``, which is test support by design) is a node.  The
roots are the code that runs the engine for a reason other than its own
tests: the query surface ``__spark_entry__.py`` (``entry``,
``queries()``, ``oracle_sql()``), ``oracles.py``, ``jobs/``, ``tools/``,
``perfbench/`` and ``bench.py``.  A definition is reached when its name
occurs (as a name, an attribute or an imported name) in a root or in a
reached definition; the pass runs to a fixpoint.  Name matching is
deliberately coarse: it can only over-report reach, never miss it, so
whatever it flags is reached by nothing but tests (or by nothing).

A flagged definition either goes, with its COVERAGE.md row, or gets an
``ALLOW`` entry naming why it stays: the SURVEY §2 row it implements or
the north-rule clause it serves.

Usage: python tools/reach_audit.py   (exit status 1 when an unallowed
definition is flagged; prints each with its line count)
"""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "graphjet_spark"
ROOTS = ("__spark_entry__.py", "bench.py", "graphjet_spark/oracles.py",
         "jobs", "tools", "perfbench")

# "<module path>::<name>" (or a whole "<module path>") -> why it stays
# although only tests reach it; what an allowed definition uses is reached
ALLOW = {
    "graphjet_spark/functions/idcodec.py":
        "SURVEY §2.9 C1/C2 id-bit codecs (card type, snowflake ts), the "
        "F6/F8 filter inputs",
    "graphjet_spark/operators/adjacency.py::neighbors_of":
        "SURVEY §2.2 P2 adjacency scan (row-group pruned point filter)",
    "graphjet_spark/operators/adjacency.py::merged_degrees":
        "SURVEY §2.2 P1 degree lookup (sum over split sub-vertices)",
    "graphjet_spark/operators/adjacency.py::block_summary":
        "north rule: every adjacency block carries its offset-index row",
    "graphjet_spark/plans/build_edges.py::node_meta_table":
        "SURVEY §2.1 S3 addEdge with node metadata",
    "graphjet_spark/plans/build_edges.py::vertex_table":
        "SURVEY §2.9 C3 string -> id hashing (the url <-> id table)",
    "graphjet_spark/plans/build_edges.py::assert_no_id_collisions":
        "SURVEY §2.9 C3 string -> id hashing (collision check)",
    "graphjet_spark/plans/build_edges.py::extract_text_table":
        "north rule: page text extraction byte-identical per url",
    "graphjet_spark/plans/build_edges.py::extract_anchor_rows":
        "beyond reference: anchor-text channel of the link extractor "
        "(COVERAGE row); no query runs it yet",
    "graphjet_spark/streaming/ingest.py::expire_segments":
        "SURVEY §2.1 S4 / §2.10 drop-oldest segment retention",
    "graphjet_spark/streaming/ingest.py::running_degrees":
        "SURVEY §2.10 custom stateful streaming operator",
    "graphjet_spark/streaming/ingest.py::streaming_components":
        "SURVEY §2.10 live-state fold (CC labels)",
    "graphjet_spark/streaming/ingest.py::read_component_labels":
        "SURVEY §2.10 live-state fold (CC labels)",
    "graphjet_spark/streaming/ingest.py::streaming_cms":
        "SURVEY §2.10 live-state fold (count-min grid)",
    "graphjet_spark/streaming/ingest.py::read_sketch_grid":
        "SURVEY §2.10 live-state fold (count-min grid)",
    "graphjet_spark/streaming/ingest.py::streaming_keep_list":
        "SURVEY §2.10 live-state fold (near-dup keep-list)",
    "graphjet_spark/streaming/ingest.py::read_keep_list":
        "SURVEY §2.10 live-state fold (near-dup keep-list)",
    "graphjet_spark/streaming/ingest.py::streaming_change_rates":
        "SURVEY §2.10 live-state fold (change rates)",
    "graphjet_spark/streaming/ingest.py::read_change_rates":
        "SURVEY §2.10 live-state fold (change rates)",
}


def _py_files(path: str):
    full = os.path.join(ROOT, path)
    if os.path.isfile(full):
        yield path
        return
    for d, _, files in sorted(os.walk(full)):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.relpath(os.path.join(d, f), ROOT)


def _parse(path: str) -> ast.Module:
    with open(os.path.join(ROOT, path)) as f:
        return ast.parse(f.read(), path)


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` can reach by name."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    return [
        t.id for t in targets
        if isinstance(t, ast.Name) and not t.id.startswith("__")
    ]


def definitions() -> list[tuple[str, str, int, set[str]]]:
    """``(module path, name, line count, names used)`` of every engine
    top-level definition, plus one unnamed entry per module for its
    import-time statements (which always run)."""
    defs = []
    for path in _py_files(ENGINE):
        if path.endswith("oracles.py"):
            continue
        for stmt in _parse(path).body:
            names = _defined(stmt)
            lines = stmt.end_lineno - stmt.lineno + 1
            for name in names:
                defs.append((path, name, lines, _names(stmt)))
            if not names and not isinstance(
                stmt, (ast.Import, ast.ImportFrom, ast.Expr)
            ):
                defs.append((path, "", lines, _names(stmt)))
    return defs


def _reach(defs, allowed: bool) -> set[str]:
    """Keys of the definitions left unreached by the roots (plus, when
    ``allowed``, by the ``ALLOW`` entries)."""
    seen = set()
    for root in ROOTS:
        for path in _py_files(root):
            seen |= _names(_parse(path))
    live = [False] * len(defs)
    grew = True
    while grew:
        grew = False
        for i, (path, name, _, used) in enumerate(defs):
            if live[i]:
                continue
            if name == "" or name in seen or allowed and (
                f"{path}::{name}" in ALLOW or path in ALLOW
            ):
                live[i] = grew = True
                seen |= used
    return {f"{p}::{n}" for (p, n, _, _), ok in zip(defs, live) if not ok}


def audit() -> tuple[list[tuple[str, int]], list[str]]:
    """``(flagged, stale)``: unreached definitions without an ``ALLOW``
    reason as ``(key, lines)``, and ``ALLOW`` entries that name no
    unreached definition."""
    defs = definitions()
    lines = {f"{p}::{n}": k for p, n, k, _ in defs}
    test_only = _reach(defs, allowed=False)
    flagged = sorted((k, lines[k]) for k in _reach(defs, allowed=True))
    stale = [
        a for a in ALLOW
        if a not in test_only and not any(k.startswith(a + "::") for k in test_only)
    ]
    return flagged, stale


def main() -> int:
    flagged, stale = audit()
    for key, n in flagged:
        print(f"FLAGGED {key} ({n} lines): only tests reach it")
    for key in stale:
        print(f"STALE   {key}: roots reach it, or it does not exist")
    return 1 if flagged or stale else 0


if __name__ == "__main__":
    sys.exit(main())
