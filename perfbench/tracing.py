"""Spans, Spark job counts and event-log totals for the traced run.

Spans are recorded only from the benchmark's own files, around each call
into a public function of the engine (``api``, ``plans.partitioned``,
``streaming.ingest``, ``session`` or a registry query). They stay in
memory and are written out once the run ends. With tracing off every
hook is a no-op, so the untraced run measures the engine alone.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


_NULL = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._request: str | None = None

    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        start = time.perf_counter()
        self.spans.append(Span(name, start, start, parent, self._request))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextlib.contextmanager
    def request(self, request_id: str, name: str):
        """Root span of one request; its children share ``request_id``."""
        self._request = request_id
        try:
            with self.span(name):
                yield
        finally:
            self._request = None

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {"name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "request": s.request, "self": st}
            for s, st in zip(self.spans, selfs)
        ]


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by its
    direct children (overlapping children are counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(i, ())):
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s.dur - covered)
    return out


class JobCounter:
    """Counts the Spark jobs and tasks one operation launches, through a
    job group per operation and the status tracker. Group ids start with
    ``phase`` (``s`` in set-up, ``w`` in the warm-up round, ``t`` in the
    measured rounds, ``c`` in the checks after them) so the event log can
    be split the same way. Disabled (untraced run) it sets no group
    and queries nothing."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.phase = "s"
        self._seq = 0

    @contextlib.contextmanager
    def group(self, label: str, out: dict | None = None):
        if not self.enabled:
            yield
            return
        self._seq += 1
        gid = f"{self.phase}:{self._seq}:{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            if out is not None:
                out.update(self.count(gid))

    def count(self, gid: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                if st is not None:          # skipped stages never ran
                    tasks += st.numTasks
        return {"jobs": len(jobs), "tasks": tasks}


def event_log_totals(log_dir: str) -> dict:
    """Executor run time, GC time, shuffle-write and spill bytes of every
    task whose job ran in a measured-round (``t:``) job group, from the Spark
    event log. Read after the session stopped, when the log is complete."""
    stage_timed: dict[int, bool] = {}
    tot = {"run_ms": 0, "gc_ms": 0, "shuffle_write": 0, "spill": 0}
    # Spark 4 writes one directory per application, holding the log
    # (possibly rolled over several files)
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                                 recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", ()):
                        stage_timed[sid] = gid.startswith("t:")
                elif kind == "SparkListenerTaskEnd":
                    if not stage_timed.get(ev.get("Stage ID")):
                        continue
                    m = ev.get("Task Metrics") or {}
                    tot["run_ms"] += m.get("Executor Run Time", 0)
                    tot["gc_ms"] += m.get("JVM GC Time", 0)
                    tot["shuffle_write"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    tot["spill"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
    return {
        "spark.executor_run_s": tot["run_ms"] / 1e3,
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.shuffle_write_mb": tot["shuffle_write"] / 1e6,
        "spark.spill_mb": tot["spill"] / 1e6,
    }
