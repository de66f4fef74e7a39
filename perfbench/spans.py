"""In-memory span tracing and Spark per-job metrics for the traced run.

Spans are recorded from the benchmark's own calls into each layer (name,
start, end, parent, op id), kept in memory and written once when the run
ends. Spark's own per-stage metrics come from the application's status REST
API on localhost, one job group per traced op.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start_s: float
    end_s: float
    parent: int | None
    op: int | None


class Tracer:
    """Thread-safe span recorder. A disabled tracer records nothing and
    costs one attribute check per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1, parent, op))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start_s, s.end_s))
    out = {}
    for s in spans:
        covered = [(max(lo, s.start_s), min(hi, s.end_s))
                   for lo, hi in children.get(s.span_id, [])]
        covered = [(lo, hi) for lo, hi in covered if hi > lo]
        out[s.span_id] = (s.end_s - s.start_s) - _union_length(covered)
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name, in seconds."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.span_id]
    return out


GROUP_FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "input_rows",
                "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes")


class SparkJobMetrics:
    """Per-job-group totals read from the Spark status REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def by_group(self, groups: set[str], settle_s: float = 10.0) -> dict[str, dict]:
        """{group: {jobs, stages, tasks, failed_tasks, input_rows,
        input_bytes, shuffle_read_bytes, shuffle_write_bytes}} for the
        given job groups. Waits (bounded) until the status store has seen
        every job of those groups finish: the listener bus is asynchronous."""
        deadline = time.monotonic() + settle_s
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages: dict[int, list[dict]] = {}
        for st in self._get("/stages"):
            if st["status"] in ("COMPLETE", "FAILED"):
                stages.setdefault(st["stageId"], []).append(st)
        out = {g: dict.fromkeys(GROUP_FIELDS, 0) for g in groups}
        for j in jobs:
            o = out[j["jobGroup"]]
            o["jobs"] += 1
            for st in (a for sid in j["stageIds"] for a in stages.get(sid, ())):
                o["stages"] += 1
                o["tasks"] += st["numTasks"]
                o["failed_tasks"] += st["numFailedTasks"]
                o["input_rows"] += st["inputRecords"]
                o["input_bytes"] += st["inputBytes"]
                o["shuffle_read_bytes"] += st["shuffleReadBytes"]
                o["shuffle_write_bytes"] += st["shuffleWriteBytes"]
        return out
