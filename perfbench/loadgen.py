"""HTTP load generator: one process, at most ``conns`` connections.

``open_loop`` sends requests on a fixed schedule whatever the server
does; each latency is timed from when the request was due, so a stall
also delays the requests queued behind it. ``closed_loop`` keeps
``conns`` requests in flight, each sent when the previous one returns.
"""

from __future__ import annotations

import http.client
import itertools
import json
import threading
import time
from urllib.parse import urlencode

from common import pct, tail_pct


class Client:
    def __init__(self, port: int):
        self.port = port
        self._rid = itertools.count()

    def get(self, params: dict, keep: bool = False):
        """One GET /search. Returns (ok, latency_s, rid, body or None)."""
        rid = f"r{next(self._rid)}"
        query = urlencode({**params, "rid": rid})
        t0 = time.perf_counter()
        body = None
        try:
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=30)
            try:
                conn.request("GET", f"/search?{query}")
                resp = conn.getresponse()
                raw = resp.read()
                ok = resp.status == 200
            finally:
                conn.close()
            if keep and ok:
                body = json.loads(raw)
        except OSError:
            ok = False
        return ok, time.perf_counter() - t0, rid, body


class Phase:
    """Samples of one load phase."""

    def __init__(self, name: str):
        self.name = name
        self.lat: list[float] = []      # from due (open) or send (closed)
        self.service: list[tuple] = []  # (rid, send→done seconds)
        self.lag: list[float] = []      # send - due
        self.failed = 0
        self.attempted = 0
        self.backlog_max = 0
        self.kept: dict[int, dict] = {}  # request index → response body
        self.wall = 0.0
        self._lock = threading.Lock()

    def note_backlog(self, backlog: int) -> None:
        with self._lock:
            self.backlog_max = max(self.backlog_max, backlog)

    def record(self, i, ok, lat, rid, service, lag, body):
        with self._lock:
            self.attempted += 1
            if ok:
                self.lat.append(lat)
                self.service.append((rid, service))
            else:
                self.failed += 1
            if lag is not None:
                self.lag.append(lag)
            if body is not None:
                self.kept[i] = body

    def summary(self) -> dict:
        q = tail_pct(len(self.lat))
        n = len(self.lag)
        late = sorted(self.lag[3 * n // 4:]) if n else []
        return {
            "requests": self.attempted,
            "failed": self.failed,
            "p50_ms": pct(self.lat, 50) * 1e3,
            "tail_q": q,
            "tail_ms": pct(self.lat, q) * 1e3,
            "qps": self.attempted / self.wall if self.wall else 0.0,
            "lag_p99_ms": pct(self.lag, 99) * 1e3,
            "late_lag_p50_ms": pct(late, 50) * 1e3,
            "backlog_max": self.backlog_max,
        }


def open_loop(client: Client, requests: list[dict], rate: float,
              conns: int, phase: Phase, keep=frozenset()) -> Phase:
    """Offer ``requests`` at ``rate`` per second over ``conns`` threads."""
    t_start = time.perf_counter() + 0.01
    nxt = itertools.count()
    sent = itertools.count(1)
    total = len(requests)

    def worker():
        while True:
            i = next(nxt)
            if i >= total:
                return
            due = t_start + i / rate
            now = time.perf_counter()
            if now < due:
                time.sleep(due - now)
                now = time.perf_counter()
            n_sent = next(sent)
            phase.note_backlog(min(total, int((now - t_start) * rate) + 1) - n_sent)
            ok, service, rid, body = client.get(requests[i], keep=i in keep)
            done = time.perf_counter()
            phase.record(i, ok, done - due, rid, service, now - due, body)

    _run(worker, conns, phase)
    return phase


def closed_loop(client: Client, requests: list[dict], seconds: float | None,
                conns: int, phase: Phase, keep=frozenset()) -> Phase:
    """``conns`` back-to-back clients cycling over ``requests`` for
    ``seconds``; with ``seconds=None``, each request is sent once. The
    requests sent are a prefix of ``requests`` (``phase.attempted`` of
    them) unless the loop wraps; bodies of those in ``keep`` are kept."""
    stop = time.perf_counter() + (seconds or 0.0)
    nxt = itertools.count()
    lock = threading.Lock()

    def worker():
        while True:
            with lock:
                i = next(nxt)
            if seconds is None:
                if i >= len(requests):
                    return
            elif time.perf_counter() >= stop:
                return
            ok, lat, rid, body = client.get(requests[i % len(requests)],
                                            keep=i in keep)
            phase.record(i, ok, lat, rid, lat, None, body)

    _run(worker, conns, phase)
    return phase


def _run(worker, conns: int, phase: Phase) -> None:
    t0 = time.perf_counter()
    threads = [threading.Thread(target=worker, daemon=True) for _ in range(conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    phase.wall = time.perf_counter() - t0
