"""Fast tests of the benchmark's reducers on a small canned event log.

    python3 -m pytest perfbench/tests -q

The log (eventlog_small.jsonl) holds one job before any op (the warm
pass), two jobs inside op A — one under A's job group, one from another
thread with no group — and one job inside op B. Times are in ms from
999 000.
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import reduce  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "eventlog_small.jsonl")


def ops():
    return [
        reduce.op_record(0, "op_a", "dedup", 0, 1000.0, 1000.05, 1000.55,
                         1000.95, 1001.0, rows=3),
        reduce.op_record(1, "op_b", "retract", 0, 1002.0, 1002.0, 1002.5,
                         1002.9, 1003.0, rows=1),
    ]


EPOCHS = [
    {"query": "q", "batch": 0, "start": 1000.1,
     "duration": {"triggerExecution": 300, "addBatch": 200, "walCommit": 5},
     "input_rows": 50, "state_rows": 7, "state_bytes": 1024},
    # Outside every op window: ignored.
    {"query": "q", "batch": 1, "start": 1001.5,
     "duration": {"triggerExecution": 900}, "input_rows": 9,
     "state_rows": 0, "state_bytes": 0},
]


@pytest.fixture(scope="module")
def facts():
    return reduce.spark_facts(reduce.read_event_log(LOG))


def test_event_log_parse(facts):
    assert [j["id"] for j in facts.jobs] == [0, 1, 2, 3]
    assert facts.jobs[1]["group"] == "op_a" and facts.jobs[2]["group"] is None
    assert facts.jobs[1]["start"] == pytest.approx(1000.1)
    # Stage 1 never ran (no submission time): not a stage that did work.
    assert sorted(s["id"] for s in facts.stages) == [0, 2, 3, 4]
    assert len(facts.tasks) == 5
    assert sum(t["failed"] for t in facts.tasks) == 1


def test_jobs_attributed_by_window_not_group(facts):
    by_op = reduce.jobs_by_op(ops(), facts)
    assert by_op[0] == 2  # op_a's own job + the ungrouped thread job
    assert reduce.jobs_in_group(facts, "op_a") == 1
    assert by_op[1] == 1


def test_layer_metrics(facts):
    m = reduce.layer_metrics(ops(), facts, EPOCHS, n_passes=1, slots=4)
    assert m["spark.jobs"] == 3  # job 0 ran before any op window
    assert m["dedup.jobs"] == 2 and m["retract.jobs"] == 1
    assert m["relational.jobs"] == 0 and m["relational.wall_s"] == 0
    assert m["spark.stages"] == 3
    assert m["spark.tasks"] == 4 and m["spark.failed_tasks"] == 1
    assert m["spark.executor_run_s"] == pytest.approx(0.75)
    assert m["spark.executor_cpu_s"] == pytest.approx(0.55)
    assert m["spark.gc_s"] == pytest.approx(0.03)
    assert m["spark.shuffle_read_bytes"] == 520
    assert m["spark.shuffle_write_bytes"] == 256
    assert m["spark.spill_bytes"] == 64
    assert m["spark.output_bytes"] == 2048
    assert m["sources.scan_bytes"] == 4196 and m["sources.scan_rows"] == 101
    # op_a: 1.0 s wall, tasks cover [0.2, 0.5] and [0.65, 0.8] → 0.55 idle.
    assert m["dedup.idle_s"] == pytest.approx(0.55)
    assert m["spark.idle_s"] == pytest.approx(0.55 + 0.8)
    assert m["spark.slot_util"] == pytest.approx(0.75 / (2.0 * 4))
    assert m["dedup.wall_s"] == pytest.approx(1.0)
    assert m["dedup.construct_s"] == pytest.approx(0.5)
    assert m["registry.construct_s"] == pytest.approx(1.0)
    assert m["registry.execute_s"] == pytest.approx(0.8)
    assert m["epoch.count"] == 1 and m["epoch.empty"] == 0
    assert m["epoch.add_batch_ms"] == 200 and m["epoch.wal_commit_ms"] == 5
    assert m["epoch.input_rows"] == 50 and m["epoch.state_rows"] == 7
    assert m["epoch.p50_ms"] == 300
    assert m["epoch.rows_per_s"] == pytest.approx(50 / 0.3)


def test_layer_metrics_are_per_pass(facts):
    one = reduce.layer_metrics(ops(), facts, EPOCHS, n_passes=1, slots=4)
    two = reduce.layer_metrics(ops(), facts, EPOCHS, n_passes=2, slots=4)
    assert two["spark.jobs"] == one["spark.jobs"] / 2
    assert two["spark.slot_util"] == pytest.approx(one["spark.slot_util"])


@pytest.mark.parametrize("n,expected", [
    (0, None), (19, None), (20, 500), (39, 500), (40, 750), (99, 750),
    (100, 900), (200, 950), (1000, 990), (10_000, 999),
])
def test_tail_percentile_leaves_ten_beyond(n, expected):
    assert reduce.tail_percentile(n) == expected
    if expected is not None:
        assert n - reduce.rank(n, expected) >= reduce.MIN_BEYOND


def test_latency_summary():
    vals = [float(i) for i in range(1, 41)]  # 40 samples → p75
    s = reduce.latency_summary(vals)
    assert s["tail_p"] == 75.0 and s["tail"] == 30.0
    assert s["p50"] == statistics.median(vals)
    small = reduce.latency_summary([3.0, 1.0, 2.0])
    assert small["tail_p"] == 100.0 and small["tail"] == 3.0


def test_union_and_self_time():
    assert reduce.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    spans = [
        reduce.Span(0, "op", 0.0, 10.0, None, 7),
        reduce.Span(1, "construct", 1.0, 4.0, 0, 7),
        reduce.Span(2, "execute", 4.0, 9.0, 0, 7),
        reduce.Span(3, "job", 2.0, 3.0, 1, 7),
        reduce.Span(4, "job", 2.5, 6.0, 1, 7),  # overlaps and overruns
    ]
    st = reduce.self_times(spans)
    assert st[0] == pytest.approx(2.0)
    # construct [1, 4]: children cover [2, 4] once clipped → 1 s self.
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(5.0) and st[3] == pytest.approx(1.0)


def test_span_tree(facts):
    spans = reduce.spans_for(ops(), facts, EPOCHS)
    by_name = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    ids = {s.id: s for s in spans}
    op_a = next(s for s in by_name["op_a"])
    job1 = next(s for s in by_name["job 1"])
    job2 = next(s for s in by_name["job 2"])
    assert ids[job1.parent].name == "construct" and ids[job1.parent].parent == op_a.id
    assert ids[job2.parent].name == "execute"
    assert "job 0" not in by_name  # before every op window
    tasks = by_name["task"]
    assert len(tasks) == 4 and all(ids[t.parent].name.startswith("job") for t in tasks)
    assert {s.op_id for s in spans if s.op_id == 0} == {0}
    assert all(s.op_id == ids[s.parent].op_id for s in spans if s.parent is not None)
    assert len(by_name["epoch 0"]) == 1 and "epoch 1" not in by_name
    st = reduce.self_times(spans)
    assert st[op_a.id] == pytest.approx(0.1)


def test_iqr_share():
    assert reduce.iqr_share([10.0] * 9 + [20.0]) == 0.0
    q1, _, q3 = statistics.quantiles([1.0, 2.0, 3.0, 4.0], n=4)
    assert reduce.iqr_share([1.0, 2.0, 3.0, 4.0]) == pytest.approx((q3 - q1) / 2.5)


def test_module_of():
    assert reduce.module_of("quty_server_spark.operators.dedup") == "dedup"
    assert reduce.module_of("quty_server_spark.streaming.ops") == "streaming"
