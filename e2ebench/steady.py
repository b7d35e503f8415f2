"""Steadiness check: run the benchmark on several seeds per workload and
report, per end-to-end metric, the median, the quartiles and the spread
(q3 - q1) / median against the metric's bound in BENCHMARK.json.

    python3 e2ebench/steady.py --runs 10 [--workload W ...] [--json out.json]

Runs one process at a time, from the repository root, exactly as
BENCHMARK.json's command with ``--trace 0``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", default=None)
    ap.add_argument("--json", help="write every run's result here")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = {}
    for wl in workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [*spec["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                return 1
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            result["wall_s"] = wall
            result["record"] = json.loads(lines[-2].split(" ", 2)[2])
            runs.append(result)
            print(f"{wl} seed {seed}: {wall:.1f} s wall, correct={result['correct']}",
                  file=sys.stderr)
        out[wl] = runs
        print(f"\n{wl} ({len(runs)} runs, wall median "
              f"{statistics.median(r['wall_s'] for r in runs):.1f} s, "
              f"failed {sum(r['failed'] for r in runs)}/{sum(r['attempted'] for r in runs)})")
        print("| metric | median | q1 | q3 | spread | bound |")
        print("| --- | --- | --- | --- | --- | --- |")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print(f"| {name} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                  f"{(q3 - q1) / med:.3f} | {bound} |")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(out, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
