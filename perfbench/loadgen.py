"""Open-loop HTTP load generator, run as its own process.

Request ``i`` is due at ``start + i / rate`` whatever happened to the
requests before it; ``threads`` senders take due requests in order, so
when the server stalls the backlog shows up as lateness.  Latency is
timed from the due time, not the send time, so a stall is charged to
every request it delays.  The query sequence and the requests that
carry ``fresh=1`` follow from ``--seed``.

    python3 loadgen.py --port P --queries a,b --rate 100 --seconds 20 \
        --seed 1 --out result.json

The output holds one ``[lag_ms, latency_ms, status, fresh, query]`` row
per request, where ``status`` is ``ok``, ``http_<code>``, ``timeout``,
``refused``, ``disconnected`` or ``error``.
"""

from __future__ import annotations

import argparse
import http.client
import json
import random
import socket
import threading
import time
import urllib.error
import urllib.request


def schedule(queries: list[str], n: int, seed: int, fresh_every: int):
    """(query, fresh) per request.  Hits pick a seeded query; one
    request in ``fresh_every``, at a fixed offset, is fresh and the k-th
    fresh request refreshes ``queries[k]`` (cyclically), so the refreshes
    a run pays for, and when, depend on ``n`` only."""
    rng = random.Random(seed)
    offset = fresh_every * 3 // 10
    plan = []
    for i in range(n):
        if i % fresh_every == offset:
            plan.append((queries[(i // fresh_every) % len(queries)], True))
        else:
            plan.append((rng.choice(queries), False))
    return plan


def _send(url: str, timeout_s: float) -> str:
    try:
        with urllib.request.urlopen(url, timeout=timeout_s) as resp:
            json.load(resp)
            return "ok" if resp.status == 200 else f"http_{resp.status}"
    except urllib.error.HTTPError as e:
        return f"http_{e.code}"
    except (socket.timeout, TimeoutError):
        return "timeout"
    except http.client.RemoteDisconnected:
        return "disconnected"
    except urllib.error.URLError as e:
        if isinstance(e.reason, ConnectionRefusedError):
            return "refused"
        if isinstance(e.reason, (socket.timeout, TimeoutError)):
            return "timeout"
        return "error"
    except (OSError, http.client.HTTPException, ValueError):
        return "error"


def run(port: int, queries: list[str], rate: float, seconds: float,
        threads: int, seed: int, fresh_every: int, limit: int,
        timeout_s: float) -> list[list]:
    plan = schedule(queries, int(rate * seconds), seed, fresh_every)
    rows: list[list | None] = [None] * len(plan)
    next_i = iter(range(len(plan)))
    lock = threading.Lock()
    start = time.perf_counter() + 0.05

    def sender() -> None:
        while True:
            with lock:
                i = next(next_i, None)
            if i is None:
                return
            query, fresh = plan[i]
            due = start + i / rate
            pause = due - time.perf_counter()
            if pause > 0:
                time.sleep(pause)
            sent = time.perf_counter()
            url = f"http://127.0.0.1:{port}/query/{query}?limit={limit}"
            status = _send(url + ("&fresh=1" if fresh else ""), timeout_s)
            done = time.perf_counter()
            rows[i] = [(sent - due) * 1e3, (done - due) * 1e3, status,
                       int(fresh), query]

    pool = [threading.Thread(target=sender) for _ in range(threads)]
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--rate", type=float, default=100.0)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--threads", type=int, default=4)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--fresh-every", type=int, default=1000)
    ap.add_argument("--limit", type=int, default=20)
    ap.add_argument("--timeout", type=float, default=10.0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    rows = run(a.port, a.queries.split(","), a.rate, a.seconds, a.threads,
               a.seed, a.fresh_every, a.limit, a.timeout)
    with open(a.out, "w", encoding="utf-8") as fh:
        json.dump({"rate": a.rate, "threads": a.threads, "requests": rows}, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
