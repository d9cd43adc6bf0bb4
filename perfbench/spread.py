"""Run the benchmark repeatedly and report each end-to-end metric's spread.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [WORKLOAD ...]

For every workload (default: all in BENCHMARK.json) it runs
``perfbench/run.py`` once per seed, then prints per metric the median and
the interquartile range as a share of the median (the spread rule
``statistics.quantiles(values, n=4)`` gives), next to the metric's bound.
A spread above a third of its bound prints WIDE. The exit code is 0 only
when every run was correct and no spread was WIDE. Run it from the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.reduce import iqr_share  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for w in names:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [*spec["command"], "--workload", w, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if out.returncode != 0:
                print(f"{w} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
                return 1
            res = json.loads(out.stdout.strip().splitlines()[-1])
            ok &= res["correct"]
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(json.dumps({"workload": w, "seed": seed, "correct": res["correct"],
                              **{m: round(v[-1], 4) for m, v in values.items()}}),
                  flush=True)
        for m, v in values.items():
            spread = iqr_share(v)
            steady = spread <= bounds[m] / 3
            ok &= steady
            print(f"{w:12s} {m:14s} median={statistics.median(v):10.4f} "
                  f"spread={spread:.3f} bound={bounds[m]} "
                  f"{'ok' if steady else 'WIDE'}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
