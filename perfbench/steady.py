"""Steadiness runner: N runs of one workload on this commit.

    python3 perfbench/steady.py --workload serve_mix --runs 10 [--seed 100]
        [--seconds S] [--trace-overhead]

Run ``i`` uses seed ``seed + i``. For every end-to-end metric it prints
the median, the first and third quartiles and the spread
(q3 - q1) / median next to the metric's bound from BENCHMARK.json,
flagging spreads above a third of the bound. The quartiles are
``statistics.quantiles(values, n=4)``'s, computed as numpy's "weibull"
percentiles, which are the same positions. Each run's
host load and steal are listed so a noisy set can be told from a noisy
program. ``--trace-overhead`` also makes a traced run per seed and
reports traced minus untraced ``latency_ms``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise SystemExit(f"seed {seed}: exit {proc.returncode}\n{proc.stdout[-2000:]}{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return result, json.load(f)


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = np.percentile(values, [25, 50, 75], method="weibull")
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed", type=int, default=100)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace-overhead", action="store_true")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]

    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    overhead: list[float] = []
    print(f"{'seed':>6} {'load_1m':>8} {'steal_%':>8}  failed/attempted")
    for i in range(args.runs):
        seed = args.seed + i
        result, detail = run_once(args.workload, seed, seconds, 0)
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        host = detail["host"]
        print(f"{seed:>6} {host['host.loadavg_1m']:>8.2f} {host['host.steal_pct']:>8.2f}  "
              f"{result['failed']}/{result['attempted']}")
        if args.trace_overhead:
            traced, _ = run_once(args.workload, seed, seconds, 1)
            overhead.append(
                traced["metrics"]["trace.latency_ms"]["value"]
                - result["metrics"]["latency_ms"]["value"]
            )

    print(f"\n{args.workload}: {args.runs} runs of {seconds:g} s")
    print(f"{'metric':<18} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    steady = True
    for m in spec["end_to_end"]:
        med, q1, q3, s = spread(values[m["name"]])
        flag = "" if s < m["bound"] / 3 else "  WIDE"
        steady &= not flag
        print(f"{m['name']:<18} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} {s:>8.3f} {m['bound']:>6}{flag}")
    if overhead:
        print(f"tracing overhead on latency_ms: median {np.median(overhead):.2f} ms "
              f"over {len(overhead)} seed pairs")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
