"""Benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the workload's seeded inputs under
``.perfbench_work/``, drives the registered query functions as a closed
loop with one client on ``local[<nproc>]``, checks every output against
its DuckDB oracle, and prints one JSON object as the last line of
standard output: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones from the traced run. The full
report (environment, per-op table, failures) is the line before it and
is also written under ``.perfbench_out/`` with the traced run's spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")


def declared_metrics(traced: bool) -> dict[str, str]:
    """Metric name → unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout (Python and JVM
    temp dirs, Spark's local dirs, no JVM perf-data file) and size the
    session's master to the cores this process may use."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python workers unpickle functions of this repository's packages.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no program to benchmark: {ROOT}/__spark_entry__.py is missing",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"{workload.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    os.makedirs(OUT, exist_ok=True)
    # Imported after isolate(): the JVM pyspark launches reads its environment.
    from perfbench import harness, inputs, reduce

    try:
        sf_dir = os.path.join(run_dir, "inputs")
        rows = inputs.build(workload, args.seed, sf_dir)
        tag = f"{workload.name}-seed{args.seed}-trace{args.trace}"
        if args.trace:
            metrics, report, runner, spans = harness.traced_run(
                workload, sf_dir, args.seed, rows, args.seconds,
                os.path.join(run_dir, "eventlog"),
            )
            self_s = reduce.self_times(spans)
            with open(os.path.join(OUT, f"{tag}-spans.json"), "w") as f:
                json.dump([{**s.as_dict(), "self_s": self_s[s.id]} for s in spans], f)
        else:
            metrics, report, runner = harness.untraced_run(
                workload, sf_dir, args.seed, rows, args.seconds
            )
        report["failures"] = runner.failures
        with open(os.path.join(OUT, f"{tag}-report.json"), "w") as f:
            json.dump(report, f, indent=1)
    finally:
        harness.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    units = declared_metrics(bool(args.trace))
    print(json.dumps(report))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
