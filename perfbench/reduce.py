"""Pure reducers for the benchmark: percentiles, span algebra and the
Spark event log → per-layer metrics. No Spark import, so the tests in
``perfbench/tests`` run in a plain interpreter.

Times are seconds since the epoch (floats). The event log stores
milliseconds; :func:`spark_facts` converts them.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

# Percentiles a tail metric may report, in per-mille so the rank
# arithmetic stays in integers; highest last.
TAIL_LADDER = (500, 750, 900, 950, 990, 999)
MIN_BEYOND = 10

# The operator modules the per-layer table names, in report order.
MODULES = (
    "relational", "tpch_more", "analytics", "pubsub", "dedup", "similarity",
    "textops", "multimodal", "graph", "pipeline", "retract", "streaming",
)


def module_of(qualified: str) -> str:
    """``quty_server_spark.operators.dedup`` → ``dedup``;
    ``quty_server_spark.streaming.ops`` → ``streaming``."""
    parts = qualified.split(".")
    if len(parts) > 1 and parts[1] == "streaming":
        return "streaming"
    return parts[-1]


def rank(n: int, permille: int) -> int:
    """1-based nearest rank of the ``permille`` percentile among ``n``."""
    return max(1, -(-permille * n // 1000))


def tail_percentile(n: int) -> int | None:
    """Highest per-mille percentile in TAIL_LADDER with at least
    MIN_BEYOND of ``n`` samples above it; None when even the median has
    fewer."""
    best = None
    for p in TAIL_LADDER:
        if n - rank(n, p) >= MIN_BEYOND:
            best = p
    return best


def percentile(values: list[float], permille: int) -> float:
    """Nearest-rank percentile: always one of the observed values."""
    if not values:
        raise ValueError("percentile of no values")
    return sorted(values)[rank(len(values), permille) - 1]


def latency_summary(values: list[float]) -> dict:
    """Median plus the tail percentile the sample supports, named in
    percent. When the sample supports no tail (fewer than 2*MIN_BEYOND
    values) the tail is the maximum and ``tail_p`` says 100."""
    p = tail_percentile(len(values))
    return {
        "n": len(values),
        "p50": statistics.median(values),
        "tail_p": p / 10 if p is not None else 100.0,
        "tail": percentile(values, p) if p is not None else max(values),
    }


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(iv: tuple[float, float], lo: float, hi: float) -> tuple[float, float]:
    return max(iv[0], lo), min(iv[1], hi)


@dataclass
class Span:
    """One traced interval. Spans of one op share ``op_id``."""

    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "start": self.start,
            "end": self.end, "parent": self.parent, "op_id": self.op_id,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {
        s.id: s.dur - union_length([clip(iv, s.start, s.end) for iv in kids[s.id]])
        for s in spans
    }


# ---------------------------------------------------------------- event log


@dataclass
class SparkFacts:
    jobs: list[dict]
    stages: list[dict]
    tasks: list[dict]


def read_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def spark_facts(events: list[dict]) -> SparkFacts:
    """Jobs, completed stages and finished tasks from event-log records."""
    jobs: dict[int, dict] = {}
    stages, tasks = [], []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stage_ids": list(ev.get("Stage IDs", [])),
                "group": props.get("spark.jobGroup.id"),
                "ok": None,
            }
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j["end"] = ev["Completion Time"] / 1000.0
                j["ok"] = ev.get("Job Result", {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if "Submission Time" not in si:
                continue  # skipped stage: never ran
            stages.append({
                "id": si["Stage ID"],
                "attempt": si.get("Stage Attempt ID", 0),
                "start": si["Submission Time"] / 1000.0,
                "end": si.get("Completion Time", si["Submission Time"]) / 1000.0,
                "failed": "Failure Reason" in si,
            })
        elif kind == "SparkListenerTaskEnd":
            ti = ev["Task Info"]
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            im = tm.get("Input Metrics") or {}
            om = tm.get("Output Metrics") or {}
            tasks.append({
                "stage": ev["Stage ID"],
                "start": ti["Launch Time"] / 1000.0,
                "end": ti["Finish Time"] / 1000.0,
                "failed": bool(ti.get("Failed")) or bool(ti.get("Killed")),
                "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "spill_bytes": tm.get("Disk Bytes Spilled", 0),
                "input_bytes": im.get("Bytes Read", 0),
                "input_rows": im.get("Records Read", 0),
                "output_bytes": om.get("Bytes Written", 0),
            })
    return SparkFacts(sorted(jobs.values(), key=lambda j: j["id"]), stages, tasks)


# The event log truncates to whole milliseconds, so an event may read up
# to 1 ms earlier than the Python clock that opened its window.
EVENT_LOG_RESOLUTION_S = 0.001


def window_of(t: float, windows: list[tuple[float, float, int]]) -> int | None:
    """Key of the first window holding ``t``."""
    for lo, hi, key in windows:
        if lo - EVENT_LOG_RESOLUTION_S <= t <= hi:
            return key
    return None


# ------------------------------------------------------------ layer metrics


def op_record(op_id, name, module, pass_no, start, c0, c1, e1, end,
              rows=None, error=None) -> dict:
    """One op execution: ``start``/``end`` bound the whole op (memo reset
    and row check included), ``c0``→``c1`` is construct (the query
    function returning its DataFrame), ``c1``→``e1`` is execute (the
    ``noop`` write)."""
    return {"op_id": op_id, "name": name, "module": module,
            "pass_no": pass_no, "start": start, "c0": c0, "c1": c1,
            "e1": e1, "end": end, "rows": rows, "error": error}


def construct_s(o: dict) -> float:
    return o["c1"] - o["c0"]


def execute_s(o: dict) -> float:
    return o["e1"] - o["c1"]


SPARK_SUMS = (
    "run_s", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "output_bytes",
)

EPOCH_FIELDS = {
    # per-layer name → StreamingQueryProgress.durationMs key
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "latest_offset_ms": "latestOffset",
    "wal_commit_ms": "walCommit",
    "commit_ms": "commitOffsets",
}


def layer_metrics(
    ops: list[dict],
    facts: SparkFacts,
    epochs: list[dict],
    n_passes: int,
    slots: int,
) -> dict[str, float]:
    """Reduce one traced run to per-pass layer metrics.

    ``ops``: one dict per timed op execution (see :func:`op_record`).
    Spark jobs, stages and tasks are attributed to the op whose window
    holds their start time, whatever thread launched them; those outside
    every op window (warm pass, session set-up) are ignored. ``epochs``
    are StreamingQueryProgress dicts with ``start`` (seconds),
    ``duration`` (the durationMs map), ``input_rows``, ``state_rows``
    and ``state_bytes``.
    """
    windows = [(o["start"], o["end"], o["op_id"]) for o in ops]
    by_id = {o["op_id"]: o for o in ops}
    n = float(max(n_passes, 1))
    out: dict[str, float] = {}

    jobs_of = jobs_by_op(ops, facts)
    stage_n = sum(
        1 for s in facts.stages if window_of(s["start"], windows) is not None
    )
    tasks_in: dict[int, list[dict]] = defaultdict(list)
    for t in facts.tasks:
        k = window_of(t["start"], windows)
        if k is not None:
            tasks_in[k].append(t)
    idle_of = {
        k: o["end"] - o["start"] - union_length(
            [clip((t["start"], t["end"]), o["start"], o["end"])
             for t in tasks_in[k]]
        )
        for k, o in by_id.items()
    }

    for m in MODULES:
        mine = [o for o in ops if o["module"] == m]
        out[f"{m}.wall_s"] = sum(o["end"] - o["start"] for o in mine) / n
        out[f"{m}.construct_s"] = sum(construct_s(o) for o in mine) / n
        out[f"{m}.jobs"] = sum(jobs_of[o["op_id"]] for o in mine) / n
        out[f"{m}.idle_s"] = sum(idle_of[o["op_id"]] for o in mine) / n

    all_tasks = [t for ts in tasks_in.values() for t in ts]
    wall = sum(o["end"] - o["start"] for o in ops)
    out["registry.construct_s"] = sum(construct_s(o) for o in ops) / n
    out["registry.execute_s"] = sum(execute_s(o) for o in ops) / n
    out["sources.scan_bytes"] = sum(t["input_bytes"] for t in all_tasks) / n
    out["sources.scan_rows"] = sum(t["input_rows"] for t in all_tasks) / n
    out["spark.jobs"] = sum(jobs_of.values()) / n
    out["spark.stages"] = stage_n / n
    out["spark.tasks"] = len(all_tasks) / n
    out["spark.failed_tasks"] = sum(t["failed"] for t in all_tasks) / n
    sums = {k: sum(t[k] for t in all_tasks) / n for k in SPARK_SUMS}
    out["spark.executor_run_s"] = sums["run_s"]
    out["spark.executor_cpu_s"] = sums["cpu_s"]
    out["spark.gc_s"] = sums["gc_s"]
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "output_bytes"):
        out[f"spark.{k}"] = sums[k]
    out["spark.idle_s"] = sum(idle_of.values()) / n
    out["spark.slot_util"] = (
        sums["run_s"] * n / (wall * slots) if wall > 0 and slots > 0 else 0.0
    )

    mine = [e for e in epochs if window_of(e["start"], windows) is not None]
    trig = [e["duration"].get("triggerExecution", 0) for e in mine]
    out["epoch.count"] = len(mine) / n
    out["epoch.empty"] = sum(1 for e in mine if e["input_rows"] == 0) / n
    for name, key in EPOCH_FIELDS.items():
        out[f"epoch.{name}"] = sum(e["duration"].get(key, 0) for e in mine) / n
    out["epoch.input_rows"] = sum(e["input_rows"] for e in mine) / n
    out["epoch.state_rows"] = sum(e["state_rows"] for e in mine) / n
    out["epoch.state_bytes"] = sum(e["state_bytes"] for e in mine) / n
    if trig:
        s = latency_summary([float(x) for x in trig])
        out["epoch.p50_ms"], out["epoch.tail_ms"] = s["p50"], s["tail"]
        out["epoch.rows_per_s"] = (
            sum(e["input_rows"] for e in mine) / (sum(trig) / 1000.0)
            if sum(trig) > 0 else 0.0
        )
    else:
        out["epoch.p50_ms"] = out["epoch.tail_ms"] = out["epoch.rows_per_s"] = 0.0
    return out


def jobs_by_op(ops: list[dict], facts: SparkFacts) -> dict[int, int]:
    """op_id → Spark jobs submitted inside that op's window, from any
    thread."""
    windows = [(o["start"], o["end"], o["op_id"]) for o in ops]
    out: dict[int, int] = defaultdict(int)
    for j in facts.jobs:
        k = window_of(j["start"], windows)
        if k is not None:
            out[k] += 1
    return out


def jobs_in_group(facts: SparkFacts, group: str) -> int:
    """Jobs whose ``spark.jobGroup.id`` is ``group`` — the attribution a
    thread-local job group gives, for comparison with the time window."""
    return sum(1 for j in facts.jobs if j["group"] == group)


def spans_for(
    ops: list[dict], facts: SparkFacts, epochs: list[dict]
) -> list[Span]:
    """Span tree: op → construct / execute → Spark job → task, plus
    epochs under the phase that holds them."""
    spans: list[Span] = []
    next_id = 0

    def add(name, start, end, parent, op_id, **attrs) -> Span:
        nonlocal next_id
        s = Span(next_id, name, start, end, parent, op_id, attrs)
        next_id += 1
        spans.append(s)
        return s

    # Innermost first: a job started between the phases (memo reset, row
    # check) falls through to its op.
    phases: list[tuple[float, float, int]] = []
    op_windows: list[tuple[float, float, int]] = []
    for o in ops:
        op = add(o["name"], o["start"], o["end"], None, o["op_id"],
                 module=o["module"], pass_no=o["pass_no"])
        c = add("construct", o["c0"], o["c1"], op.id, o["op_id"])
        e = add("execute", o["c1"], o["e1"], op.id, o["op_id"])
        phases += [(c.start, c.end, c.id), (e.start, e.end, e.id)]
        op_windows.append((op.start, op.end, op.id))
    phases += op_windows
    phase_op = {s.id: s.op_id for s in spans}
    stage_job = {sid: j["id"] for j in facts.jobs for sid in j["stage_ids"]}
    job_span: dict[int, Span] = {}
    for j in facts.jobs:
        p = window_of(j["start"], phases)
        if p is None:
            continue
        end = j["end"] if j["end"] is not None else j["start"]
        job_span[j["id"]] = add(f"job {j['id']}", j["start"], end, p,
                                phase_op[p])
    for t in facts.tasks:
        js = job_span.get(stage_job.get(t["stage"], -1))
        if js is not None:
            add("task", t["start"], t["end"], js.id, js.op_id)
    for ep in epochs:
        p = window_of(ep["start"], phases)
        if p is not None:
            dur = ep["duration"].get("triggerExecution", 0) / 1000.0
            add(f"epoch {ep['batch']}", ep["start"], ep["start"] + dur, p,
                phase_op[p], query=ep.get("query"))
    return spans


def iqr_share(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles``
    gives them — the spread rule the benchmark is held to."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")
