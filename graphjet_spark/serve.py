"""Minimal REST read surface — the S6 analogue.

GraphJet's demo exposes its queries as Jetty JSON servlets
(reference: graphjet-demo/src/main/java/com/twitter/graphjet/demo/
TwitterStreamReader.java:218-235 — TopTweetsServlet etc.).  This is the
batch engine's equivalent: a stdlib ``http.server`` endpoint wrapping
the driver-contract query registry (``__spark_entry__.queries()``), so
every gated operator is reachable as::

    GET /queries                      -> {"queries": [...]}
    GET /query/<name>?limit=N         -> {"rows": [...], "n": N}

No third-party web framework (none is installed here); the server is a
thin read path — queries execute on the shared SparkSession and results
stream back as JSON.  Long-running algorithms are capped by ``limit``
on the collected rows, never on the computation (the engine's own
top-k/limit semantics live in the queries themselves).
"""

from __future__ import annotations

import datetime
import decimal
import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


def _jsonable(v):
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    if hasattr(v, "asDict"):  # Row / nested struct
        return {k: _jsonable(x) for k, x in v.asDict().items()}
    return v


class QueryServer:
    """Serve the query registry over HTTP on an ephemeral (or given)
    port.  ``registry`` maps name -> callable(spark, sf_dir) ->
    DataFrame (exactly the driver contract's ``queries()``)."""

    def __init__(
        self,
        spark,
        sf_dir: str,
        registry: dict | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
        max_limit: int = 10_000,
        materialize: bool = False,
        ttl_s: float | None = None,
    ):
        if registry is None:
            import __spark_entry__ as entry_mod

            registry = entry_mod.queries()
        self._spark = spark
        self._sf_dir = sf_dir
        self._registry = registry
        self._max_limit = max_limit
        # engine-resident materialized results (the GraphTables pattern
        # applied to the READ path): first hit per query collects up to
        # max_limit rows once; repeated hits serve driver-memory slices
        # (GraphJet's recs-per-second serving shape) with staleness
        # metadata.  ttl_s bounds staleness; ?fresh=1 forces recompute.
        self._materialize = materialize
        self._ttl_s = ttl_s
        self._cache: dict[str, tuple[list, float]] = {}
        # guards _cache and _inflight only, never held across a compute;
        # one lock per query name serializes its builds, so a slow cold
        # query never delays hits on other names
        self._cache_lock = threading.Lock()
        self._inflight: dict[str, threading.Lock] = {}
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):
                # route access/error lines to the logging module (debug
                # level, so test runs stay quiet) instead of discarding
                logging.getLogger("graphjet_spark.serve").debug(
                    "%s %s", self.address_string(), fmt % args
                )

            def _send(self, code: int, payload: dict):
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                url = urlparse(self.path)
                if url.path == "/queries":
                    self._send(200, {"queries": sorted(outer._registry)})
                    return
                if url.path.startswith("/query/"):
                    name = url.path[len("/query/") :]
                    fn = outer._registry.get(name)
                    if fn is None:
                        self._send(404, {"error": f"unknown query {name!r}"})
                        return
                    qs = parse_qs(url.query)
                    try:
                        limit = int(qs.get("limit", ["100"])[0])
                    except ValueError:
                        limit = -1
                    if limit < 0:
                        self._send(400, {"error": "limit must be an integer >= 0"})
                        return
                    limit = min(limit, outer._max_limit)
                    fresh = qs.get("fresh", ["0"])[0] == "1"
                    try:
                        rows, built_at = outer._rows_for(name, fn, fresh)
                    except Exception as e:  # surface engine errors as 500s
                        self._send(500, {"error": str(e)[:500]})
                        return
                    rows = rows[:limit]
                    payload = {
                        "query": name,
                        "n": len(rows),
                        "rows": [
                            {k: _jsonable(v) for k, v in r.asDict().items()}
                            for r in rows
                        ],
                    }
                    if built_at is not None:
                        import time as _time

                        payload["materialized_at"] = built_at
                        payload["age_s"] = round(_time.time() - built_at, 3)
                    self._send(200, payload)
                    return
                self._send(404, {"error": "unknown path"})

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )

    def _rows_for(self, name: str, fn, fresh: bool):
        """Row source for one request: direct execution when
        materialization is off; otherwise the engine-resident result
        (built once, max_limit rows, recomputed when past ttl_s or on
        ?fresh=1).  Returns (rows, built_at_epoch_or_None)."""
        import time

        if not self._materialize:
            df = fn(self._spark, self._sf_dir)
            return df.limit(self._max_limit).collect(), None
        since = time.time()

        def usable(hit) -> bool:
            # a build that finished after this request arrived is fresh
            # enough even for ?fresh=1 (concurrent misses share one build)
            return hit is not None and (
                hit[1] >= since
                or (
                    not fresh
                    and (self._ttl_s is None or time.time() - hit[1] <= self._ttl_s)
                )
            )

        with self._cache_lock:
            hit = self._cache.get(name)
            if usable(hit):
                return hit
            building = self._inflight.setdefault(name, threading.Lock())
        with building:
            with self._cache_lock:
                hit = self._cache.get(name)
            if usable(hit):
                return hit
            rows = fn(self._spark, self._sf_dir).limit(self._max_limit).collect()
            entry = (rows, time.time())
            with self._cache_lock:
                self._cache[name] = entry
            return entry

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "QueryServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
