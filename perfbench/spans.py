"""Tracing from outside the program: spans around public calls, and
Spark's own event log read per job group.

Spans are (name, start, end, parent, op) records kept in memory and
written out once at exit. A span's self time is its duration minus the
durations of its direct children. The event-log reader groups Spark's
listener events by the job group the benchmark sets for every
operation, so each operation's jobs, stages, tasks, shuffle, spill and
GC are attributed to it without any tracing inside the engine.
"""

from __future__ import annotations

import functools
import json
import pathlib
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder; a disabled tracer records nothing and wraps nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent_index, op]
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        # only the client thread is traced: the timed loop runs there,
        # and the warm-up's helper threads would interleave the stack
        if not self.enabled or threading.current_thread() is not threading.main_thread():
            yield
            return
        rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else None, self.op]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a class's method or a module's function)
        with a wrapper that records a ``name`` span around each call."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)

    def durations(self, name: str) -> list[tuple[str | None, float]]:
        """(op, seconds) for every closed span called ``name``."""
        return [(s[4], s[2] - s[1]) for s in self.spans if s[0] == name and s[2] is not None]

    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, inclusive seconds and self seconds."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] is not None and s[2] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for i, s in enumerate(self.spans):
            if s[2] is None:
                continue
            d = out[s[0]]
            d["calls"] += 1
            d["total_s"] += s[2] - s[1]
            d["self_s"] += s[2] - s[1] - child[i]
        return dict(out)

    def dump(self) -> list[dict]:
        return [
            {"name": n, "start": a, "end": b, "parent": p, "op": o}
            for n, a, b, p, o in self.spans
        ]


_PY_SCOPE = re.compile(r"Python|Pandas|Arrow")


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [a, b) millisecond intervals, in seconds."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks and their metrics, from the
    uncompressed JSON event log(s) under ``log_dir``."""
    groups: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "job_iv": [],
            "stages": 0,
            "tasks": 0,
            "failed_tasks": 0,
            "task_s": 0.0,
            "task_wait_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_b": 0,
            "spill_b": 0,
            "input_b": 0,
            "python_stage_s": 0.0,
        }
    )
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    stage_sub: dict[tuple[int, int], float] = {}
    for f in sorted(pathlib.Path(log_dir).rglob("*")):
        if f.is_dir():
            continue
        with open(f, errors="replace") as fh:
            for ln in fh:
                head = ln[:64]
                if '"SparkListenerJobStart"' in head:
                    ev = json.loads(ln)
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        job_group[ev["Job ID"]] = gid
                        job_start[ev["Job ID"]] = ev["Submission Time"]
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = gid
                elif '"SparkListenerJobEnd"' in head:
                    ev = json.loads(ln)
                    gid = job_group.get(ev["Job ID"])
                    if gid:
                        g = groups[gid]
                        g["jobs"] += 1
                        g["job_iv"].append((job_start[ev["Job ID"]], ev["Completion Time"]))
                elif '"SparkListenerStageCompleted"' in head:
                    info = json.loads(ln)["Stage Info"]
                    gid = stage_group.get(info["Stage ID"])
                    sub = info.get("Submission Time")
                    if not gid or sub is None:
                        continue  # skipped stages are never submitted
                    stage_sub[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = sub
                    g = groups[gid]
                    g["stages"] += 1
                    scopes = " ".join(
                        json.loads(r["Scope"]).get("name", "")
                        for r in info.get("RDD Info", [])
                        if r.get("Scope")
                    )
                    if _PY_SCOPE.search(scopes):
                        g["python_stage_s"] += (info["Completion Time"] - sub) / 1000.0
                elif '"SparkListenerTaskEnd"' in head:
                    ev = json.loads(ln)
                    gid = stage_group.get(ev["Stage ID"])
                    if not gid:
                        continue
                    g = groups[gid]
                    ti = ev["Task Info"]
                    tm = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success" or ti.get("Failed"):
                        g["failed_tasks"] += 1
                    g["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    g["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    g["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    g["input_b"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    g.setdefault("launch", []).append(
                        ((ev["Stage ID"], ev.get("Stage Attempt ID", 0)), ti["Launch Time"])
                    )
    for g in groups.values():
        g["job_s"] = _union_s(g.pop("job_iv"))
        for key, launch in g.pop("launch", []):
            if key in stage_sub:
                g["task_wait_s"] += max(0.0, launch - stage_sub[key]) / 1000.0
    return dict(groups)
