"""In-memory spans around calls into the program's layers, plus Spark
job accounting for traced runs.

A span has a name (the layer, e.g. ``serving.local.search``), start,
end, parent span and request id. Spans are kept in a list and written
out once, at the end of the run. A layer's self time is its spans'
duration minus the part covered by their child spans.

Spark work is tagged with one job group per traced call; the group's
jobs, stages and tasks come from ``statusTracker`` and its shuffle and
spill bytes from the Spark event log.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Thread-safe span recorder; ``rid`` is the current thread's request id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []  # (id, name, t0, t1, parent, rid)
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    @property
    def rid(self):
        return getattr(self._local, "rid", None)

    @rid.setter
    def rid(self, value):
        self._local.rid = value

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, t0, t1, parent, self.rid))

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a ``name`` span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, float]:
        """Layer → total self time (duration minus child coverage)."""
        children: dict = defaultdict(list)
        for sid, _, t0, t1, parent, _ in self.spans:
            if parent is not None:
                children[parent].append((t0, t1))
        out: dict[str, float] = defaultdict(float)
        for sid, name, t0, t1, _, _ in self.spans:
            out[name] += (t1 - t0) - covered(children.get(sid, []), t0, t1)
        return dict(out)

    def uncovered_share(self, t0: float, t1: float, skip=()) -> float:
        """Share of [t0, t1] that no root span covers, leaving out the
        ``skip`` intervals (calls run with tracing off)."""
        roots = [(a, b) for _, _, a, b, parent, _ in self.spans if parent is None]
        wall = max(t1 - t0 - covered(skip, t0, t1), 1e-9)
        return max(0.0, 1.0 - covered(roots, t0, t1) / wall)

    def dump(self, path: Path, extra: dict | None = None) -> None:
        rows = [
            {"id": sid, "name": n, "start": t0, "end": t1, "parent": p, "rid": rid}
            for sid, n, t0, t1, p, rid in sorted(self.spans, key=lambda s: s[2])
        ]
        path.write_text(json.dumps({"spans": rows, **(extra or {})}))


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class SparkJobs:
    """Job-group tagging and per-call Spark counts for traced runs.

    Each traced ``call`` appends a record ``{layer, gid, jobs, stages,
    tasks}`` read from ``statusTracker`` when the call returns;
    ``add_bytes`` later adds the event log's shuffle and spill bytes."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.records: list[dict] = []
        self._n = itertools.count()

    @contextmanager
    def call(self, layer: str):
        """Span ``layer`` and tag the Spark jobs it runs."""
        if not self.tracer.enabled:
            yield
            return
        gid = f"pb-{next(self._n)}"
        self.sc.setJobGroup(gid, layer)
        try:
            with self.tracer.span(layer):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.records.append({"layer": layer, "gid": gid, **self._count(gid)})

    def _count(self, gid: str) -> dict:
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(gid))
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran, tasks = 0, 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks:
                ran += 1
                tasks += info.numCompletedTasks + info.numFailedTasks
        return {"jobs": len(jobs), "stages": ran, "tasks": tasks}

    def of(self, layer: str) -> list[dict]:
        return [r for r in self.records if r["layer"] == layer]

    def add_bytes(self, log_dir: Path) -> None:
        """Merge event-log bytes into the records (after the session stops)."""
        by_gid = event_log_bytes(log_dir)
        for r in self.records:
            r.update(by_gid.get(r["gid"], {"shuffle_read": 0, "shuffle_write": 0,
                                           "spill": 0}))


def event_log_bytes(log_dir: Path) -> dict[str, dict]:
    """Job group → shuffle read/write and spill bytes, summed over the
    tasks of every stage its jobs ran (from the Spark event log)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {"shuffle_read": 0, "shuffle_write": 0, "spill": 0}
    )
    for path in sorted(Path(log_dir).glob("*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = gid
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if gid is None or not m:
                        continue
                    r = m.get("Shuffle Read Metrics") or {}
                    w = m.get("Shuffle Write Metrics") or {}
                    acc = out[gid]
                    acc["shuffle_read"] += r.get("Remote Bytes Read", 0) + r.get(
                        "Local Bytes Read", 0)
                    acc["shuffle_write"] += w.get("Shuffle Bytes Written", 0)
                    acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    return dict(out)
