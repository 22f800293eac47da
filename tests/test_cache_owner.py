"""Static check (no Spark): the superstep runner is the only engine code
that persists a relation, so every cached relation is released when its
runner exits, also when the plan raises.  Plans take their partition
count from the runner too.  A hand ``persist()`` or a
``defaultParallelism`` read in ``plans/`` fails here."""

from __future__ import annotations

import ast
import pathlib

ENGINE = pathlib.Path(__file__).resolve().parents[1] / "graphjet_spark"
RUNNER = pathlib.Path("plans/superstep.py")


def offences(source: str, rel: pathlib.Path) -> list[str]:
    """``line: call`` for each hand cache and, in ``plans/``, each
    ``defaultParallelism`` read in ``source`` (the module at ``rel``)."""
    if rel == RUNNER:
        return []
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Attribute) and node.attr == "defaultParallelism":
            if rel.parts[0] == "plans":
                found.append((node.lineno, "defaultParallelism"))
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            name = node.func.attr
            # DataFrame/RDD .cache() takes no argument; the runner's cache(df) does
            if name == "persist" or (name == "cache" and not node.args and not node.keywords):
                found.append((node.lineno, f".{name}("))
    return [f"{line}: {what}" for line, what in sorted(found)]


def test_only_the_runner_persists():
    bad = {
        str(path.relative_to(ENGINE)): hits
        for path in sorted(ENGINE.rglob("*.py"))
        if path.name != "oracles.py"
        and (hits := offences(path.read_text(), path.relative_to(ENGINE)))
    }
    assert bad == {}


def test_check_sees_a_hand_persist():
    src = (
        "e = edges.repartition(spark.sparkContext.defaultParallelism, 'a').persist()\n"
        "adj = e.cache()\n"
        "adj = run.cache(e)\n"
    )
    assert offences(src, pathlib.Path("plans/kcore.py")) == [
        "1: .persist(",
        "1: defaultParallelism",
        "2: .cache(",
    ]
    assert offences(src, pathlib.Path("operators/dedup.py")) == ["1: .persist(", "2: .cache("]
    assert offences(src, RUNNER) == []
