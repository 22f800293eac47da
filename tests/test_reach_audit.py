"""Dead code cannot come back silently: every engine definition that
only tests reach carries an ``ALLOW`` reason in tools/reach_audit.py
(a SURVEY §2 row or a north-rule clause), and no reason outlives the
code it excuses."""

from __future__ import annotations

import importlib.util
import os


def _load():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "reach_audit.py",
    )
    spec = importlib.util.spec_from_file_location("reach_audit", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_only_allowlisted_definitions_are_test_only():
    flagged, stale = _load().audit()
    assert flagged == []
    assert stale == []


def test_audit_flags_a_definition_without_a_reason(monkeypatch):
    """Dropping an entry exposes the definition it excused."""
    mod = _load()
    key = "graphjet_spark/streaming/ingest.py::streaming_cms"
    monkeypatch.delitem(mod.ALLOW, key)
    flagged, _ = mod.audit()
    assert key in dict(flagged)
