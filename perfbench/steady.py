"""Steadiness check: run one workload N times with N consecutive seeds and print,
for each end-to-end metric, the median, quartiles, the interquartile
spread and the max/min spread as shares of the median, against the
metric's bound in BENCHMARK.json.

Usage (from the root of a checkout)::

    python3 perfbench/steady.py --workload stream_waves --runs 10 [--first-seed 1] [--trace-overhead]

``--trace-overhead`` also runs each seed with ``--trace 1`` and prints
the traced-minus-untraced difference of each end-to-end metric's median
(the traced run records its end-to-end figures in its trace file). The
runs are sequential; each prints its host line, so an outlier run can
be told apart from a slow host.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """One run's result and host line; the host line gains the run's
    whole wall time, start to exit, as ``wall_s``."""
    t0 = time.perf_counter()
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    host = next((json.loads(ln[5:]) for ln in lines if ln.startswith("host ")), {})
    host["wall_s"] = round(time.perf_counter() - t0, 1)
    return json.loads(lines[-1]), host


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / med if med else float("inf"),
        "range_share": (max(values) - min(values)) / med if med else float("inf"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace-overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    values: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    shares = set()
    for seed in range(args.first_seed, args.first_seed + args.runs):
        res, host = run_once(args.workload, seed, seconds, 0)
        shares.add((res["failed"], res["attempted"]))
        row = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
              f"{row} host={host}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        if args.trace_overhead:
            run_once(args.workload, seed, seconds, 1)
            with open(os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{seed}.json")) as fh:
                for k, v in json.load(fh)["e2e"].items():
                    traced.setdefault(k, []).append(v)
    print(f"\nfailed/attempted per run: {sorted(shares)}")
    print(f"{'metric':14s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} {'max-min':>8s} {'bound':>6s}")
    for m in spec["end_to_end"]:
        s = spread(values[m["name"]])
        flag = "" if s["iqr_share"] <= m["bound"] / 3 else "  <-- above a third of the bound"
        print(f"{m['name']:14s} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} "
              f"{s['iqr_share']:8.3f} {s['range_share']:8.3f} {m['bound']:6.2f}{flag}")
    if traced:
        print("\ntracing overhead (traced minus untraced median):")
        for m in spec["end_to_end"]:
            a, b = statistics.median(values[m["name"]]), statistics.median(traced[m["name"]])
            print(f"  {m['name']:14s} {b - a:+12.4f} {m['unit']:6s} ({(b - a) / a:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
