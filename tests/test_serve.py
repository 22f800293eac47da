"""REST read-surface tests (S6 analogue): the stdlib JSON server
exposes the driver-contract query registry over HTTP."""

from __future__ import annotations

import json
import urllib.request

from graphjet_spark.serve import QueryServer

SF = "/root/testdata/sf0.001"


def _get(port, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
        return r.status, json.loads(r.read())


def test_query_server_round_trip(spark):
    srv = QueryServer(spark, SF).start()
    try:
        status, listing = _get(srv.port, "/queries")
        assert status == 200
        assert "degrees" in listing["queries"]
        assert "top_parts_by_engagement" in listing["queries"]

        status, got = _get(srv.port, "/query/top_parts_by_engagement?limit=5")
        assert status == 200 and got["n"] == 5
        # JSON rows mirror the engine result exactly
        import __spark_entry__ as entry_mod

        want = (
            entry_mod.queries()["top_parts_by_engagement"](spark, SF)
            .limit(5)
            .collect()
        )
        assert got["rows"] == [
            {"id": r["id"], "degree": r["degree"]} for r in want
        ]

        status, deg = _get(srv.port, "/query/degrees?limit=3")
        assert status == 200 and deg["n"] == 3
        assert set(deg["rows"][0]) == {"id", "out_degree", "in_degree"}

        try:
            urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/query/nope")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.stop()


def test_query_server_materialized_read_path(spark):
    """materialize=True: the first hit executes the plan once; repeated
    hits serve engine-resident rows sub-second with staleness metadata,
    values unchanged; ?fresh=1 rebuilds."""
    import time

    srv = QueryServer(spark, SF, materialize=True).start()
    try:
        t0 = time.time()
        status, first = _get(srv.port, "/query/degrees?limit=3")
        cold = time.time() - t0
        assert status == 200 and first["n"] == 3
        assert "materialized_at" in first and first["age_s"] >= 0

        t0 = time.time()
        status, again = _get(srv.port, "/query/degrees?limit=3")
        warm = time.time() - t0
        assert again["rows"] == first["rows"]
        assert again["materialized_at"] == first["materialized_at"]
        assert warm < 1.0 and warm < cold  # served from memory

        status, fresh = _get(srv.port, "/query/degrees?limit=3&fresh=1")
        assert fresh["rows"] == first["rows"]  # deterministic rebuild
        assert fresh["materialized_at"] >= first["materialized_at"]
    finally:
        srv.stop()


def test_query_server_rejects_bad_limit(spark):
    """A malformed ``limit`` is a 400 with a JSON error, not a dropped
    connection; ``limit=0`` is valid and returns no rows."""
    srv = QueryServer(spark, SF, registry={"r": lambda s, _: s.range(3)}).start()
    try:
        for bad in ("abc", "-1", "1.5", "1e3"):
            try:
                urllib.request.urlopen(
                    f"http://127.0.0.1:{srv.port}/query/r?limit={bad}"
                )
                raise AssertionError(f"expected 400 for limit={bad!r}")
            except urllib.error.HTTPError as e:
                assert e.code == 400
                assert "limit" in json.loads(e.read())["error"]
        status, got = _get(srv.port, "/query/r?limit=0")
        assert status == 200 and got["n"] == 0 and got["rows"] == []
        status, got = _get(srv.port, "/query/r?limit=2")
        assert got["rows"] == [{"id": 0}, {"id": 1}]
    finally:
        srv.stop()


class _Rows:
    """A stand-in DataFrame: ``limit(n).collect()`` returns its rows."""

    def __init__(self, rows):
        self.rows = rows

    def limit(self, n):
        return _Rows(self.rows[:n])

    def collect(self):
        return self.rows


def test_slow_build_does_not_block_other_queries():
    """materialize=True: a cached hit on one query answers while another
    query's cold build runs, and concurrent cold requests for one name
    share a single build."""
    import threading
    import time

    from pyspark.sql import Row

    calls = {"slow": 0, "fast": 0}

    def query(name, delay):
        def fn(spark, sf_dir):
            calls[name] += 1
            time.sleep(delay)
            return _Rows([Row(id=1, name=name)])

        return fn

    registry = {"slow": query("slow", 2.0), "fast": query("fast", 0.0)}
    srv = QueryServer(None, "", registry=registry, materialize=True).start()
    try:
        assert _get(srv.port, "/query/fast")[1]["rows"] == [{"id": 1, "name": "fast"}]
        slow = [
            threading.Thread(target=_get, args=(srv.port, "/query/slow"))
            for _ in range(2)
        ]
        for t in slow:
            t.start()
        time.sleep(0.3)  # both slow requests are waiting on the one build
        t0 = time.time()
        status, hit = _get(srv.port, "/query/fast")
        assert time.time() - t0 < 0.5
        assert status == 200 and hit["rows"] == [{"id": 1, "name": "fast"}]
        assert any(t.is_alive() for t in slow)
        for t in slow:
            t.join(timeout=10)
        assert calls == {"slow": 1, "fast": 1}
    finally:
        srv.stop()
