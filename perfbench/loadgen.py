"""Load generation for the REST workloads.

Open loop (searches): requests follow a precomputed Poisson schedule.
Each is timed from the moment it was DUE, not from when it was sent, so
a stall also charges every request queued behind it; how late each one
was sent is recorded separately (the generator's own lateness).
``needle_spark.plans.microbatch.poisson_load_run`` stamps requests at
send time instead, which hides that queueing delay.

Closed loop (writes): one writer sends its next operation when the
previous one has been answered.
"""

from __future__ import annotations

import http.client
import itertools
import json
import threading
import time
from urllib.parse import urlsplit


class Client:
    """Minimal JSON-over-HTTP client; one connection per request (the
    server speaks HTTP/1.0)."""

    def __init__(self, url: str, timeout: float = 60.0):
        u = urlsplit(url)
        self.host, self.port = u.hostname, u.port
        self.timeout = timeout
        self._rids = itertools.count(1)
        self._lock = threading.Lock()

    def next_rid(self) -> int:
        with self._lock:
            return next(self._rids)

    def call(self, method: str, path: str, body=None, rid: int | None = None
             ) -> tuple[int, dict, int]:
        """(status, JSON reply, request body bytes); a connection error
        is status 0."""
        data = None if body is None else json.dumps(body).encode()
        if rid is not None:
            path += ("&" if "?" in path else "?") + f"_rid={rid}"
        conn = http.client.HTTPConnection(self.host, self.port,
                                          timeout=self.timeout)
        try:
            conn.request(method, path, body=data,
                         headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            raw = resp.read()
            try:
                payload = json.loads(raw) if raw else {}
            except json.JSONDecodeError:
                payload = {"error": "non-JSON reply"}
            return resp.status, payload, len(data or b"")
        except OSError as e:
            return 0, {"error": str(e)}, len(data or b"")
        finally:
            conn.close()


def run_open_loop(client: Client, schedule: list[dict], make_request,
                  workers: int, t0: float, keep_going) -> list[dict]:
    """Send schedule[i] at t0 + schedule[i]["due"] from `workers`
    threads.  `make_request(item)` gives (op class, method, path, body).
    Items are taken in due order; a worker that is behind sends at once
    and the delay shows as lateness.  `keep_going(due)` is asked before
    each item past the nominal window and may stop the stream.

    Returns one record per request: op, rid, due/sent/done times on the
    perf_counter clock, status, reply."""
    items = iter(schedule)
    lock = threading.Lock()
    records: list[dict] = []

    def worker():
        while True:
            with lock:
                item = next(items, None)
            if item is None or not keep_going(item["due"]):
                return
            due = t0 + item["due"]
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            op, method, path, body = make_request(item)
            rid = client.next_rid()
            sent = time.perf_counter()
            status, reply, _ = client.call(method, path, body, rid=rid)
            done = time.perf_counter()
            rec = {"op": op, "rid": rid, "due": due, "sent": sent,
                   "done": done, "status": status, "reply": reply,
                   "item": item}
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=worker, daemon=True)
               for _ in range(workers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records


def lateness(records: list[dict]) -> list[float]:
    """Seconds each request was sent after it was due (never negative)."""
    return [max(0.0, r["sent"] - r["due"]) for r in records]


def latency_from_due(records: list[dict]) -> list[float]:
    """Seconds from due time to reply: the wait a user sees, including
    any queueing behind a late generator or a stalled server."""
    return [r["done"] - r["due"] for r in records]


def run_writer(client: Client, next_op, cycles: int, t0: float
               ) -> list[dict]:
    """Closed loop from t0: `cycles` whole cycles of `next_op(cycle,
    step)`, which gives (op, method, path, body, effect), or None when
    the cycle has no more steps."""
    records: list[dict] = []
    delay = t0 - time.perf_counter()
    if delay > 0:
        time.sleep(delay)
    for cycle in range(cycles):
        for step in itertools.count():
            spec = next_op(cycle, step)
            if spec is None:
                break
            op, method, path, body, effect = spec
            rid = client.next_rid()
            sent = time.perf_counter()
            status, reply, nbytes = client.call(method, path, body, rid=rid)
            done = time.perf_counter()
            records.append({"op": op, "rid": rid, "due": sent, "sent": sent,
                            "done": done, "status": status, "reply": reply,
                            "effect": effect, "bytes": nbytes})
    return records
