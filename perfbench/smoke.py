"""Smoke test of the benchmark itself: one short traced run per workload.

    python3 perfbench/smoke.py [workload ...]

Checks, for each workload, that the run is correct, that every metric
BENCHMARK.json declares is measured (end-to-end metrics in the run
record) and emitted with its declared unit (per-layer metrics on the
result line), and that in every traced pass the layer self times sum to
within 10% of the pass wall. Exits non-zero if any check fails.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import json
import os
import re
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import LAYER_SPANS  # noqa: E402


def check(workload: str, spec: dict) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    record_path = re.findall(r"record (\S+\.json)", proc.stderr)[-1]
    with open(record_path) as fh:
        record = json.load(fh)
    errs = []
    if not result["correct"] or result["failed"]:
        errs.append(f"outputs not correct: {record['check']}")
    for m in spec["end_to_end"]:
        if m["name"] not in record["end_to_end"]:
            errs.append(f"end-to-end metric {m['name']} not measured")
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    emitted = {k: v["unit"] for k, v in result["metrics"].items()}
    if declared != emitted:
        errs.append(f"per-layer metrics differ: declared-only {declared.keys() - emitted.keys()}, "
                    f"emitted-only {emitted.keys() - declared.keys()}, "
                    f"units {[k for k in declared if emitted.get(k, declared[k]) != declared[k]]}")
    for p in record["traced_passes"]:
        layers = p["layers"]
        total = sum(layers[m] for m in LAYER_SPANS.values())
        if abs(total - layers["pass_wall_s"]) > 0.1 * layers["pass_wall_s"]:
            errs.append(f"layer self times {total:.3f} s, pass wall {layers['pass_wall_s']:.3f} s")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    failed = False
    for w in names:
        errs = check(w, spec)
        print(f"{w}: {'ok' if not errs else 'FAILED'}")
        for e in errs:
            print(f"  {e}")
        failed |= bool(errs)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
