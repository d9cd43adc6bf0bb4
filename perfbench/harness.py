"""Spark-facing half of the benchmark: sessions, passes, the oracle check,
the streaming listener and the traced run.

A pass calls every op of a workload once, in order, on one thread: reset
the op's memo if it is timed cold, call the registered query function
(construct), write its DataFrame to the ``noop`` sink (execute) and read
the row count an ``Observation`` collected during that write.
"""

from __future__ import annotations

import glob
import os
import platform
import statistics
import subprocess
import threading
import time
from datetime import datetime, timezone

import duckdb
import pyspark
from pyspark import SparkContext
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import __spark_entry__ as se
from perfbench import reduce
from perfbench.workloads import COLD_MEMO, FIXTURE_SF, Workload, memo_convention
from quty_server_spark.session import get_spark
from quty_server_spark.sources.tables import TABLES
from tools.check_oracle import df_to_multiset

APP = "perfbench"

# Submit-time confs of the traced run only. PySpark 4.1.2 writes a zstd
# rolling directory by default, which this reducer does not read.
EVENT_LOG_CONFS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

# Traced-run accounting tolerances: construct + execute must cover each
# op's wall, and the ops must cover each pass's wall, within these.
OP_GAP_SHARE, OP_GAP_FLOOR_S = 0.05, 0.02
PASS_GAP_SHARE = 0.05


def stop_jvm(timeout_s: float = 60.0) -> None:
    """End the Spark JVM this process launched and wait until it has
    exited. It exits when its stdin closes; kill it if it does not."""
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def start_session() -> tuple[SparkSession, float]:
    t0 = time.time()
    spark = get_spark(APP)
    return spark, time.time() - t0


class Runner:
    """Runs one workload's passes against one SparkSession at a time."""

    def __init__(self, workload: Workload, sf_dir: str) -> None:
        self.w = workload
        self.sf_dir = sf_dir
        qs = se.queries()
        missing = [op for op in workload.ops if op not in qs]
        if missing:
            raise KeyError(f"ops not registered: {missing}")
        self.fns = {op: qs[op] for op in workload.ops}
        self.modules = {
            op: reduce.module_of(qs[op].__module__) for op in workload.ops
        }
        self.next_op_id = 0
        self.passes_run = 0
        self.failures: dict[str, list[str]] = {}
        self.attempted = 0
        self.expected_rows: dict[str, int] = {}
        # Filled by the warm pass and the timed passes.
        self.oracle_cpu_s = 0.0
        self.pass_cpu_s: list[float] = []
        self.steal_share = 0.0
        self.jobs_per_pass = self.tasks_per_pass = 0.0
        # The warm pass per op: wall time and the oracle check's cost.
        self.warm: dict[str, dict] = {}

    def fail(self, op: str, msg: str) -> None:
        self.failures.setdefault(op, []).append(msg)

    @property
    def failed(self) -> int:
        return sum(len(v) for v in self.failures.values())

    def run_op(self, spark, op: str, pass_no: int, job_group: bool = False,
               collect: bool = False):
        """One op execution → (record, collected rows or None). Execute is
        the ``noop`` write, or ``collect()`` when the rows are wanted."""
        op_id = self.next_op_id
        self.next_op_id += 1
        self.attempted += 1
        start, cpu0 = time.time(), tree_cpu_s()
        if job_group:
            spark.sparkContext.setJobGroup(op, op)
        if op in COLD_MEMO:
            setattr(spark, COLD_MEMO[op], {})
        out = rows = error = None
        c0 = time.time()
        c1 = e1 = None
        try:
            df = self.fns[op](spark, self.sf_dir)
            c1 = time.time()
            if collect:
                out = (list(df.columns), [tuple(r) for r in df.collect()])
                e1 = time.time()
                rows = len(out[1])
            else:
                obs = Observation(f"perfbench_rows_{op_id}")
                df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                    "noop"
                ).mode("overwrite").save()
                e1 = time.time()
                rows = obs.get["rows"]
        except Exception as e:  # a failing op is reported, never dropped
            error = f"{type(e).__name__}: {e}"[:300]
            self.fail(op, error)
        now = time.time()
        c1 = c1 or now
        e1 = e1 or now
        if error is None and op in self.expected_rows and rows != self.expected_rows[op]:
            self.fail(op, f"pass {pass_no}: {rows} rows, warm pass had "
                          f"{self.expected_rows[op]}")
        rec = reduce.op_record(op_id, op, self.modules[op], pass_no, start,
                               c0, c1, e1, time.time(), rows, error)
        rec["cpu_s"] = tree_cpu_s() - cpu0
        return rec, out

    def warm_pass(self, spark) -> tuple[float, float]:
        """The untimed pass that fills memos and lazy state. Every op's
        rows are collected and compared with its DuckDB oracle, and its
        row count becomes the one timed passes must reproduce. Returns
        (wall without the oracle comparison, the comparison)."""
        con = _duck(self.sf_dir)
        oracles = se.oracle_sql()
        oracle_s = 0.0
        t0 = time.time()
        try:
            for op in self.w.ops:
                rec, out = self.run_op(spark, op, -1, collect=True)
                self.warm[op] = {"wall_s": rec["end"] - rec["start"]}
                if rec["error"] is not None:
                    continue
                self.expected_rows[op] = rec["rows"]
                t, cpu = time.time(), tree_cpu_s()
                msg = oracle_mismatch(con, *out, oracles.get(op))
                self.warm[op]["oracle_s"] = time.time() - t
                self.oracle_cpu_s += tree_cpu_s() - cpu
                oracle_s += self.warm[op]["oracle_s"]
                if msg:
                    self.fail(op, f"oracle: {msg}")
        finally:
            con.close()
        return time.time() - t0 - oracle_s, oracle_s

    def timed_passes(self, spark, seconds: float, job_group: bool = False,
                     at_least: int = 1):
        """Whole passes until ``seconds`` have been measured and at least
        ``at_least`` passes made. Returns [(pass start, pass end,
        [records])]."""
        passes = []
        jobs0, tasks0 = spark_counts(spark)
        t_begin = time.time()
        ticks = cpu_ticks()
        while len(passes) < at_least or time.time() - t_begin < seconds:
            p0, cpu0 = time.time(), tree_cpu_s()
            recs = [
                self.run_op(spark, op, self.passes_run, job_group=job_group)[0]
                for op in self.w.ops
            ]
            self.passes_run += 1
            passes.append((p0, time.time(), recs))
            self.pass_cpu_s.append(tree_cpu_s() - cpu0)
        self.steal_share = steal_share(ticks, cpu_ticks())
        jobs1, tasks1 = spark_counts(spark)
        self.jobs_per_pass = (jobs1 - jobs0) / len(passes)
        self.tasks_per_pass = (tasks1 - tasks0) / len(passes)
        return passes


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def oracle_mismatch(con, scols: list, srows: list, sql: str | None) -> str | None:
    """tools/check_oracle.py's comparison: row count, column names and the
    order-insensitive multiset of values. None when they agree (or the op
    has no oracle)."""
    if sql is None:
        return None
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    if len(srows) != len(orows):
        return f"rowcount spark={len(srows)} duckdb={len(orows)}"
    if sorted(scols) != sorted(ocols):
        return f"cols spark={sorted(scols)} duckdb={sorted(ocols)}"
    if df_to_multiset(scols, srows)[1] != df_to_multiset(ocols, orows)[1]:
        return "values differ"
    return None


class EpochListener(StreamingQueryListener):
    """Collects every micro-batch's StreamingQueryProgress."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.epochs: list[dict] = []
        self.started = self.ended = 0

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        rec = {
            "query": p.name or str(p.id),
            "batch": p.batchId,
            "start": datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
            .replace(tzinfo=timezone.utc)
            .timestamp(),
            "duration": dict(p.durationMs),
            "input_rows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in ops),
            "state_bytes": sum(s.memoryUsedBytes for s in ops),
        }
        with self.lock:
            self.epochs.append(rec)

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.ended += 1

    def drain(self, timeout_s: float = 30.0) -> bool:
        """Wait until every started query's termination was delivered."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self.lock:
                if self.ended >= self.started:
                    return True
            time.sleep(0.05)
        return False


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant (the
    Spark JVM and its Python workers), reaped children included."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stats[int(d)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited while listing
    parent = {pid: int(f[1]) for pid, f in stats.items()}
    me, total = os.getpid(), 0.0
    for pid, fields in stats.items():
        p = pid
        while p in parent and p != me:
            p = parent[p]
        if p == me:
            total += sum(int(x) for x in fields[11:15]) / _CLK_TCK
    return total


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two /proc/stat reads."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if sum(d) else 0.0


def spark_counts(spark) -> tuple[int, int]:
    """(jobs submitted, tasks finished) so far in this SparkContext, once
    the listener bus has delivered every event."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    execs = sc.statusStore().executorList(True)
    tasks = sum(execs.apply(i).totalTasks() for i in range(execs.size()))
    return sc.dagScheduler().numTotalJobs(), tasks


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def environment(spark, workload: Workload, seed: int, rows: dict,
                traced: bool) -> dict:
    sc = spark.sparkContext
    return {
        "workload": workload.name,
        "seed": seed,
        "traced": traced,
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "fixture_sf": FIXTURE_SF,
        "input_rows": rows,
        "memo": memo_convention(workload.ops),
    }


def op_table(runner: Runner, recs: list[dict]) -> dict:
    """Per-op medians over the timed passes, for the report."""
    out = {}
    for op in runner.w.ops:
        mine = [r for r in recs if r["name"] == op]
        out[op] = {
            "module": runner.modules[op],
            "wall_s": statistics.median(r["end"] - r["start"] for r in mine),
            "construct_s": statistics.median(reduce.construct_s(r) for r in mine),
            "execute_s": statistics.median(reduce.execute_s(r) for r in mine),
            "cpu_s": statistics.median(r["cpu_s"] for r in mine),
            "rows": runner.expected_rows.get(op),
            "warm": runner.warm.get(op),
        }
    return out


def setup(runner: Runner, on_start=None) -> tuple[SparkSession, dict]:
    """Session start plus the warm pass with the oracle check. Returns the
    session and the set-up's wall and CPU seconds, the oracle comparison
    excluded from both. ``on_start(spark)`` runs between the two."""
    cpu0 = tree_cpu_s()
    spark, start_s = start_session()
    cpu1 = tree_cpu_s()
    try:
        if on_start is not None:
            on_start(spark)
        warm_s, oracle_s = runner.warm_pass(spark)
    except BaseException:
        spark.stop()
        raise
    cpu2 = tree_cpu_s() - runner.oracle_cpu_s
    return spark, {
        "session_start_s": start_s,
        "warm_pass_s": warm_s,
        "oracle_check_s": oracle_s,
        "setup_wall_s": start_s + warm_s,
        "session_start_cpu_s": cpu1 - cpu0,
        "warm_pass_cpu_s": cpu2 - cpu1,
        "setup_cpu_s": cpu2 - cpu0,
    }


def untraced_run(workload: Workload, sf_dir: str, seed: int, rows: dict,
                 seconds: float) -> tuple[dict, dict, Runner]:
    """Set-up, then timed passes. Returns (end-to-end metrics, report,
    runner)."""
    runner = Runner(workload, sf_dir)
    spark, set_up = setup(runner)
    try:
        passes = runner.timed_passes(spark, seconds, at_least=workload.passes)
        rss = jvm_peak_rss_mb(spark)
        env = environment(spark, workload, seed, rows, traced=False)
    finally:
        spark.stop()
    recs = [r for _, _, rs in passes for r in rs]
    lat = reduce.latency_summary([r["end"] - r["start"] for r in recs])
    metrics = {
        "setup_s": set_up["setup_cpu_s"],
        "pass_cpu_s": statistics.median(runner.pass_cpu_s),
        "jobs_per_pass": runner.jobs_per_pass,
        "tasks_per_pass": runner.tasks_per_pass,
    }
    report = {
        "env": env,
        **set_up,
        "passes": len(passes),
        "pass_walls_s": [e - s for s, e, _ in passes],
        "pass_cpu_s": runner.pass_cpu_s,
        "steal_share": runner.steal_share,
        "op_samples": lat["n"],
        "op_p50_s": lat["p50"],
        "op_tail_percentile": lat["tail_p"],
        "op_tail_s": lat["tail"],
        "peak_rss_mb": rss,
        "ops": op_table(runner, recs),
    }
    return metrics, report, runner


class EventLogSwitch:
    """Attaches and detaches the event logger Spark started from the
    submit-time confs, so only the traced passes are logged. Before a
    detach the listener bus is drained, so no logged event is lost."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext._jsc.sc()
        logger = self.sc.eventLogger()
        if logger.isEmpty():
            raise RuntimeError("the session has no event logger")
        self.logger = logger.get()

    def attach(self) -> None:
        self.sc.listenerBus().addToEventLogQueue(self.logger)

    def detach(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()
        self.sc.removeSparkListener(self.logger)


def traced_run(workload: Workload, sf_dir: str, seed: int, rows: dict,
               seconds: float, log_dir: str) -> tuple[dict, dict, Runner, list]:
    """Set-up, one untraced pass, then traced and untraced passes in turn
    until ``seconds`` have been measured, all in one session. A traced
    pass has the event log attached, the streaming listener registered
    and one job group per op; an untraced pass has none of them. The
    first pass after set-up still carries most of the JIT warm-up (on
    llm_detect 22 s against 14 s for the next), so it is left out of the
    comparison; taking the two sides in turn after it gives them the
    same history, and their gap is the tracing overhead. Returns
    (per-layer metrics, report, runner, spans)."""
    runner = Runner(workload, sf_dir)
    os.makedirs(log_dir, exist_ok=True)
    confs = {**EVENT_LOG_CONFS, "spark.eventLog.dir": "file://" + os.path.abspath(log_dir)}
    # The confs reach the session's SparkConf as JVM system properties:
    # set before it starts, cleared once it has.
    SparkContext._ensure_initialized()
    system = SparkContext._jvm.java.lang.System
    for k, v in confs.items():
        system.setProperty(k, v)
    switch = None

    def detach_log(spark) -> None:
        nonlocal switch
        switch = EventLogSwitch(spark)
        switch.detach()

    try:
        spark, set_up = setup(runner, on_start=detach_log)
    finally:
        for k in confs:
            system.clearProperty(k)
    listener = EpochListener()
    base, traced = [], []
    try:
        t_begin = time.time()
        first = runner.timed_passes(spark, 0)
        while not traced or time.time() - t_begin < seconds:
            switch.attach()
            spark.streams.addListener(listener)
            traced += runner.timed_passes(spark, 0, job_group=True)
            for k in ("spark.jobGroup.id", "spark.job.description"):
                spark.sparkContext.setLocalProperty(k, None)
            drained = listener.drain()
            spark.streams.removeListener(listener)
            switch.detach()
            if not drained:
                runner.fail("<listener>", "stream terminations not delivered in 30 s")
            base += runner.timed_passes(spark, 0)
        rss = jvm_peak_rss_mb(spark)
        env = environment(spark, workload, seed, rows, traced=True)
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()

    logs = glob.glob(os.path.join(log_dir, app_id + "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log for {app_id}, found {logs}")
    facts = reduce.spark_facts(reduce.read_event_log(logs[0]))
    recs = [r for _, _, rs in traced for r in rs]
    slots = env["default_parallelism"]
    layers = reduce.layer_metrics(recs, facts, listener.epochs, len(traced), slots)
    layers["session.start_s"] = set_up["session_start_s"]
    layers["session.setup_wall_s"] = set_up["setup_wall_s"]
    layers["session.warm_pass_cpu_s"] = set_up["warm_pass_cpu_s"]
    layers["session.peak_rss_mb"] = rss
    base_pass = statistics.median(e - s for s, e, _ in base)
    lat = reduce.latency_summary(
        [r["end"] - r["start"] for _, _, rs in base for r in rs]
    )
    layers["registry.pass_s"] = base_pass
    layers["registry.op_p50_s"] = lat["p50"]
    layers["registry.op_tail_s"] = lat["tail"]
    traced_pass = statistics.median(e - s for s, e, _ in traced)
    layers["trace.overhead_ratio"] = traced_pass / base_pass - 1.0

    problems = accounting_problems(traced)
    for p in problems:
        runner.fail("<trace accounting>", p)
    spans = reduce.spans_for(recs, facts, listener.epochs)
    jobs_of = reduce.jobs_by_op(recs, facts)
    by_op = {
        op: {
            "jobs_by_window": sum(jobs_of[r["op_id"]] for r in recs
                                  if r["name"] == op) / len(traced),
            "jobs_by_group": reduce.jobs_in_group(facts, op) / len(traced),
        }
        for op in workload.ops
    }
    report = {
        "env": env,
        **set_up,
        "op_tail_percentile": lat["tail_p"],
        "first_pass_s": first[0][1] - first[0][0],
        "base_passes": len(base),
        "traced_passes": len(traced),
        "base_pass_walls_s": [e - s for s, e, _ in base],
        "traced_pass_walls_s": [e - s for s, e, _ in traced],
        "base_pass_s": base_pass,
        "traced_pass_s": traced_pass,
        "epochs": len(listener.epochs),
        "accounting": {
            "op_gap_tolerance": f"{OP_GAP_SHARE:.0%} of op wall + {OP_GAP_FLOOR_S} s",
            "pass_gap_tolerance": f"{PASS_GAP_SHARE:.0%} of pass wall",
            "problems": problems,
        },
        "jobs_per_pass": by_op,
        "ops": op_table(runner, recs),
    }
    return layers, report, runner, spans


def accounting_problems(passes) -> list[str]:
    """Check that construct + execute account for each op's wall and the
    ops account for each pass's wall, within the stated tolerances."""
    out = []
    for s, e, recs in passes:
        for r in recs:
            wall = r["end"] - r["start"]
            gap = wall - reduce.construct_s(r) - reduce.execute_s(r)
            if gap > OP_GAP_SHARE * wall + OP_GAP_FLOOR_S:
                out.append(f"{r['name']}: {gap:.3f} s of {wall:.3f} s outside "
                           "construct + execute")
        ops_wall = sum(r["end"] - r["start"] for r in recs)
        if (e - s) - ops_wall > PASS_GAP_SHARE * (e - s):
            out.append(f"pass {recs[0]['pass_no']}: ops cover {ops_wall:.3f} s "
                       f"of {e - s:.3f} s")
    return out
