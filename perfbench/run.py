"""Run one benchmark workload in one process and print its metrics.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload table_queries --seed 1 --seconds 10 --trace 0

One ``local[nproc]`` session and one client thread run the workload's
operations as a closed loop: each starts only after the previous one
returned. With ``--trace 0`` the last line of standard output is a JSON
object with the end-to-end metrics; with ``--trace 1`` the public
methods of the engine's layers are wrapped in spans, Spark's event log
is read per operation, and the JSON carries the per-layer metrics (the
spans, self times and the run's end-to-end figures go to
``.perfbench/traces/``). The line before the JSON reports host
conditions over the timed window. Exit code 0 means the run completed
and printed its result, whose ``correct`` says whether the outputs
checked out; any other code means the run could not complete.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _env(work: str, cores: int, trace: bool) -> None:
    """Point every scratch path of Python, the JVM and Spark inside
    ``work``, and size the session to this machine."""
    from harness import mem_total_mb

    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the engine's 24g default heap is sized for a large host; 2g (or a
    # quarter of a smaller machine) holds every workload here
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(2048, mem_total_mb() // 4)}m"
    # C1-only JIT: a run lasts about a minute, and under the default
    # tiered JIT the C2 compiler threads take about half of the CPU in
    # it, finishing at a different point in each run; with C1 alone the
    # same passes take the same wall time and half the CPU, and runs
    # agree more closely (README, "JIT")
    java = f"-Djava.io.tmpdir={work} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    conf = [
        f'--driver-java-options "{java}"',
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={work}/warehouse",
    ]
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{work}/eventlog",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf) + " pyspark-shell"


def _stop(spark) -> None:
    """Stop the session, then close the JVM's stdin so that it exits,
    and wait for it: no process this run started outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def spark_layers(elog: dict, ops) -> dict[str, float]:
    """Per-op means of the event-log figures over ``ops``."""
    n = max(1, len(ops))
    g = [elog.get(r.op, {}) for r in ops]

    def tot(k):
        return sum(x.get(k, 0) for x in g)

    gap = sum(max(0.0, r.seconds - x.get("job_s", 0.0)) for r, x in zip(ops, g))
    return {
        "spark.jobs_per_op": tot("jobs") / n,
        "spark.stages_per_op": tot("stages") / n,
        "spark.tasks_per_op": tot("tasks") / n,
        "spark.gap_s_per_op": gap / n,
        "spark.job_s_per_op": tot("job_s") / n,
        "spark.task_s_per_op": tot("task_s") / n,
        "spark.task_wait_s_per_op": tot("task_wait_s") / n,
        "spark.gc_s_per_op": tot("gc_s") / n,
        "spark.shuffle_write_mb_per_op": tot("shuffle_write_b") / 1e6 / n,
        "spark.spill_mb_per_op": tot("spill_b") / 1e6 / n,
        "spark.failed_tasks_per_op": tot("failed_tasks") / n,
        "sources.read_mb_per_op": tot("input_b") / 1e6 / n,
        "functions.python_stage_s_per_op": tot("python_stage_s") / n,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0, help="local[N] cores (default: all)")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    if not os.path.isdir(os.path.join(ROOT, "flink_playground_spark")):
        print(f"engine package not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cores = args.cores or len(os.sched_getaffinity(0))
    trace = bool(args.trace)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, spec, cores, trace, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec, cores, trace, base, work) -> int:
    _env(work, cores, trace)
    import harness
    from spans import Tracer, read_event_log
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    tracer = Tracer(trace)
    wl = WORKLOADS[args.workload](work, args.seed, args.seconds, trace)

    marks = [time.perf_counter()]

    def phase(name: str) -> None:
        marks.append(time.perf_counter())
        print(f"phase {name}: {marks[-1] - marks[-2]:.2f}s", file=sys.stderr, flush=True)

    g0 = time.perf_counter()
    wl.generate()  # inputs (and table oracles) before the session starts
    gen_s = time.perf_counter() - g0
    phase("inputs")
    if trace:
        wl.instrument(tracer)

    from flink_playground_spark import session

    with tracer.span("session.get_spark"):
        spark = session.get_spark("perfbench", cores)
    phase("session")
    try:
        runner = harness.Runner(spark, tracer)
        with tracer.span("session.warmup"):
            wl.warmup(spark, runner, tracer)
            runner.baseline()
        setup_s = time.perf_counter() - _T_START - gen_s
        phase("warm-up")

        steal0, total0 = harness.cpu_times()
        load0 = harness.loadavg()
        t0 = time.perf_counter()
        wl.timed(spark, runner, tracer, t0 + args.seconds)
        timed_s = time.perf_counter() - t0
        steal1, total1 = harness.cpu_times()
        host = {
            "steal_share": (steal1 - steal0) / max(1, total1 - total0),
            "loadavg_start": load0,
            "loadavg_end": harness.loadavg(),
            "cores": cores,
            "heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "timed_s": round(timed_s, 3),
        }

        records = runner.records
        phase("timed")
        wl.check(spark, runner)
        phase("check")
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = harness.vm_hwm_mb(jvm_pid) + harness.vm_hwm_mb()
        layers = wl.layers(tracer, records) if trace else {}
    finally:
        _stop(spark)
    phase("stop")

    failed = [r for r in records if not r.ok]
    e2e = {"setup_s": setup_s, **wl.e2e(records)}
    result = {
        "correct": not wl.problems,
        "attempted": len(records),
        "failed": len(failed),
    }
    for p in wl.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    for kind in sorted({r.kind for r in failed}):
        n = sum(1 for r in failed if r.kind == kind)
        first = next(r for r in failed if r.kind == kind)
        print(f"failed op {kind} x{n}: {first.problem}", file=sys.stderr)

    if trace:
        elog = read_event_log(f"{work}/eventlog")
        main_ops = [r for r in records if r.kind == wl.write_kind] if wl.write_kind else records
        layers.update(spark_layers(elog, main_ops))
        layers["session.get_spark_s"] = sum(s for _, s in tracer.durations("session.get_spark"))
        layers["session.warmup_s"] = sum(s for _, s in tracer.durations("session.warmup"))
        layers["process.peak_rss_mb"] = peak_rss_mb
        values, kind = layers, "per_layer"
        os.makedirs(f"{base}/traces", exist_ok=True)
        out = f"{base}/traces/{args.workload}-seed{args.seed}.json"
        with open(out, "w") as fh:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "e2e": e2e,
                    "host": host,
                    "layers": layers,
                    "self_times": tracer.self_times(),
                    "ops": [r.__dict__ for r in records],
                    "event_log": elog,
                    "spans": tracer.dump(),
                },
                fh,
            )
        print(f"trace written to {os.path.relpath(out, ROOT)}", file=sys.stderr)
        st = sorted(tracer.self_times().items(), key=lambda kv: -kv[1]["self_s"])
        for name, d in st[:25]:
            print(f"  {name:40s} calls {d['calls']:5d}  total {d['total_s']:8.3f}s  self {d['self_s']:8.3f}s", file=sys.stderr)
    else:
        values, kind = e2e, "end_to_end"
    print("host " + json.dumps(host))
    # a per-layer figure that does not arise in this workload reads 0
    result["metrics"] = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec[kind]}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
