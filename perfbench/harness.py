"""Closed-loop operation runner, session hygiene checks and host readings.

Every operation runs under its own Spark job group and is timed from
the client. After it returns, the runner checks that the session holds
no cached relation and that the SQL conf is what it was before; either
finding marks the operation failed. It then clears the cache (and puts
back a changed conf), so the next operation starts the way a user's
fresh call would.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass


@dataclass
class OpRecord:
    op: str  # job group id
    kind: str
    seconds: float
    t0_ms: float
    t1_ms: float
    items: int
    ok: bool
    problem: str = ""


class Runner:
    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.records: list[OpRecord] = []
        self._seq = 0
        self._conf0: dict[str, str] | None = None

    def baseline(self) -> None:
        """Snapshot the SQL conf every later operation must leave unchanged."""
        self.spark.catalog.clearCache()
        self._conf0 = dict(self.spark.conf.getAll)

    def run(self, kind: str, fn, items: int = 0, record: bool = True):
        """Run ``fn()`` as one operation; returns its result."""
        self._seq += 1
        op = f"op{self._seq:05d}"
        self.spark.sparkContext.setJobGroup(op, kind)
        self.tracer.op = op
        w0 = time.time()
        t0 = time.perf_counter()
        with self.tracer.span(f"op.{kind}"):
            out = fn()
        seconds = time.perf_counter() - t0
        self.tracer.op = None
        # later Spark jobs (checks, trace-only probes) belong to no op
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        problem = self._clean()
        # one line per operation on standard error, to tell a slow
        # operation from a slow run
        print(f"op {op} {kind} {seconds:.3f}s{'' if record else ' (untimed)'}", file=sys.stderr, flush=True)
        if record:
            self.records.append(
                OpRecord(op, kind, seconds, w0 * 1000.0, (w0 + seconds) * 1000.0, items, not problem, problem)
            )
        return out

    def _clean(self) -> str:
        problems = []
        jss = self.spark._jsparkSession
        if not jss.sharedState().cacheManager().isEmpty():
            problems.append("cached relation left in the session")
        self.spark.catalog.clearCache()
        if self._conf0 is not None:
            now = dict(self.spark.conf.getAll)
            if now != self._conf0:
                changed = sorted(k for k in set(now) | set(self._conf0) if now.get(k) != self._conf0.get(k))
                problems.append(f"SQL conf changed: {changed}")
                for k in changed:
                    if k in self._conf0:
                        self.spark.conf.set(k, self._conf0[k])
                    else:
                        self.spark.conf.unset(k)
        return "; ".join(problems)


def concurrently(spark, fns, threads: int) -> list:
    """Run the untimed callables ``fns`` on ``threads`` threads and
    return their results in order, then clear the session's cache.

    Warm-up only: the first run of each plan shape pays class loading,
    JIT and code generation once per JVM, and overlapping those first
    runs shortens set-up without changing how warm the JVM is after it."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max(1, threads)) as pool:
        out = list(pool.map(lambda fn: fn(), fns))
    spark.catalog.clearCache()
    return out


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# -- host readings ----------------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for ln in fh:
            if ln.startswith("MemTotal:"):
                return int(ln.split()[1]) // 1024
    return 4096
