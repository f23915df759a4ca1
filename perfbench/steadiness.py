"""Repeat runs of the benchmark and summarise their spread.

    python3 perfbench/steadiness.py --runs 10 [--cpus 2] [--trace 0] [--data-dir D] [workload ...]

Runs each workload ``--runs`` times, one process at a time, with seeds
1..runs, and prints one JSON object: per workload and metric the ten
values, their median, first and third quartile, and the spread
(Q3 - Q1) / median as ``statistics.quantiles(values, n=4)`` gives them,
plus each run's wall time, output-check results and host readings (CPU
steal, load average).
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse
import json
import os
import re
import statistics
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarise(values: list[float]) -> dict:
    if len(values) < 2:
        q1 = med = q3 = values[0]
    else:
        q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "values": values,
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
    }


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--cpus", type=int, default=2)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--data-dir", help="passed on to run.py")
    p.add_argument("workloads", nargs="*")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    out = {}
    for w in args.workloads or [x["name"] for x in spec["workloads"]]:
        metrics: dict[str, list[float]] = {}
        runs = []
        for seed in range(1, args.runs + 1):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(args.trace), "--cpus", str(args.cpus)]
                + (["--data-dir", args.data_dir] if args.data_dir else []),
                cwd=ROOT, capture_output=True, text=True, check=True,
            )
            wall = time.perf_counter() - t0
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            with open(re.findall(r"record (\S+\.json)", proc.stderr)[-1]) as fh:
                record = json.load(fh)
            runs.append({"seed": seed, "wall_s": wall, "correct": res["correct"],
                         "check": record["check"], "host": record["host"]})
            for k, v in res["metrics"].items():
                metrics.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {wall:.1f} s, correct={res['correct']}", file=sys.stderr)
        out[w] = {"runs": runs, "metrics": {k: summarise(v) for k, v in metrics.items()}}
    print(json.dumps({"cpus": args.cpus, "seconds": seconds, "data_dir": args.data_dir,
                      "workloads": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
