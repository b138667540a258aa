"""Self-tests of the benchmark's parts that need no Spark session.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import compare  # noqa: E402
import datagen  # noqa: E402
from eventlog import Attributor, parse  # noqa: E402
from layers import per_layer  # noqa: E402


def _job(jid, desc, t_ms, stages):
    props = {"spark.job.description": desc} if desc else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": t_ms, "Stage IDs": stages, "Properties": props}


def _task(stage, run_ms=100, cpu_ns=50_000_000, py=None, failed=False):
    accums = [{"Name": name, "Update": str(v)} for name, v in (py or {}).items()]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Failed": failed, "Accumulables": accums},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": 5, "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 2048,
                                     "Fetch Wait Time": 3},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024},
            "Input Metrics": {"Bytes Read": 4096, "Records Read": 10},
            "Output Metrics": {"Bytes Written": 0, "Records Written": 0},
        },
    }


def _plan(*children, name="AdaptiveSparkPlan"):
    return {"nodeName": name, "children": list(children)}


SQL = "org.apache.spark.sql.execution.ui."
PY = {"time to run Python workers": 700, "time to start Python workers": 20,
      "time to initialize Python workers": 30,
      "data sent to Python workers": 2 * 1024 * 1024,
      "data returned from Python workers": 1024 * 1024}

# One timed pass (t = 100..110 s) of one query, in epoch seconds.
SPANS = [
    {"id": 0, "parent": None, "kind": "pass", "name": "timed0", "layer": None,
     "start": 100.0, "end": 110.0},
    {"id": 1, "parent": 0, "kind": "query", "name": "q1", "layer": None,
     "start": 100.0, "end": 109.0},
    {"id": 2, "parent": 1, "kind": "phase", "name": "construct", "layer": None,
     "start": 100.0, "end": 104.0},
    {"id": 3, "parent": 2, "kind": "call", "name": "text.dedup_fn",
     "layer": "text", "start": 100.5, "end": 103.5},
    {"id": 4, "parent": 3, "kind": "call", "name": "cache.tracked_persist",
     "layer": "cache", "start": 101.0, "end": 101.5},
    {"id": 5, "parent": 1, "kind": "phase", "name": "exec", "layer": None,
     "start": 104.0, "end": 109.0},
]

EVENTS = [
    # before the pass (a warm-pass job): ignored
    _job(0, "q1/exec", 50_000, [0]), _task(0),
    # a construct-time job launched inside text.dedup_fn
    _job(1, "q1/construct/text.dedup_fn", 102_000, [1]),
    _task(1, py=PY), _task(1, py=PY, failed=True),
    {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 7,
     "description": "q1/construct/text.dedup_fn", "time": 102_000,
     "sparkPlanInfo": _plan(_plan(name="Exchange"))},
    # a streaming micro-batch: Spark's own description, attributed by time
    _job(2, "stream_out\nid = 1\nbatch = 0", 103_000, [2]), _task(2),
    # the exec job reuses stage 1 (skipped) and runs stage 3
    _job(3, "q1/exec", 105_000, [1, 3]), _task(3),
    {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 8,
     "description": "q1/exec", "time": 105_000,
     "sparkPlanInfo": _plan(_plan(name="Exchange"))},
    {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
     "executionId": 8,
     "sparkPlanInfo": _plan(_plan(name="Exchange"),
                            _plan(_plan(name="BroadcastExchange"),
                                  name="ShuffleQueryStage"),
                            _plan(name="ReusedExchange"))},
]


def _write_log(tmp_path):
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    return str(path)


def test_parse_sums_task_metrics_and_python_accumulables():
    log = parse(json.dumps(e) for e in EVENTS)
    st = log.stages[1]
    assert st["tasks"] == 2 and st["task_failures"] == 1
    assert st["py_run_ms"] == 1400 and st["py_start_ms"] == 40
    assert st["py_sent_b"] == 4 * 1024 * 1024
    assert log.jobs[1].desc == "q1/construct/text.dedup_fn"
    assert log.jobs[3].stage_ids == [1, 3]
    # the last adaptive update is the final plan; reused exchanges do
    # not count
    assert log.executions[8].final_exchanges == 2
    assert log.executions[7].final_exchanges == 1


def test_attribution_by_description_and_by_time_window():
    where = Attributor(SPANS)
    assert where("q1/construct/text.dedup_fn", 102.0) == {
        "pass": "timed0", "query": "q1", "phase": "construct",
        "layer": "text"}
    # streaming micro-batch: innermost span covering 103 s is the text call
    assert where("stream_out\nbatch = 0", 103.0) == {
        "pass": "timed0", "query": "q1", "phase": "construct",
        "layer": "text"}
    assert where("q1/exec", 50.0) is None  # outside every pass


def test_per_layer_metrics(tmp_path):
    passes = [{"tag": "timed0", "released": 3,
               "queries": {"q1": {"construct_s": 4.0, "exec_s": 5.0}}}]
    m, report = per_layer(_write_log(tmp_path), SPANS, passes, ["q1"],
                          [(105.0, 3 * 1024 * 1024)], 2 * 1024 * 1024)
    val = {k: v[0] for k, v in m.items()}
    assert val["spark.jobs"] == 3  # the warm-pass job is excluded
    assert val["spark.construct_jobs"] == 2
    assert val["spark.stages"] == 3
    assert val["spark.stage_reuse"] == pytest.approx(1 / 4)
    assert val["spark.task_failures"] == 1
    assert val["python.run_s"] == pytest.approx(1.4)
    assert val["python.sent_mb"] == pytest.approx(4.0)
    assert val["plan.final_exchanges"] == 3
    assert val["text.jobs"] == 2 and val["text.calls"] == 1
    assert val["text.self_s"] == pytest.approx(2.5)  # 3 s minus the persist
    assert val["cache.persists"] == 1 and val["cache.released"] == 3
    assert val["cache.held_mb"] == pytest.approx(3.0)
    assert val["sources.tmp_left_mb"] == pytest.approx(2.0)
    assert [j["id"] for j in report["q1"]["construct_jobs"]] == [1, 2]
    assert report["q1"]["final_exchanges"] == 3


def _runs(values):
    return dict(enumerate(values, start=1))


def test_compare_improved_worse_unchanged_unresolved():
    base = _runs([10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0])
    faster = _runs([v * 0.8 for v in base.values()])
    slower = _runs([v * 1.2 for v in base.values()])
    same = _runs([v + 0.01 * (-1) ** i for i, v in base.items()])
    noisy = _runs([10.0, 14.0, 7.0, 12.0, 9.0, 15.0, 6.0, 11.0, 8.0, 13.0])
    assert compare.verdict(base, faster, 0.1, True)["verdict"] == "improved"
    assert compare.verdict(base, slower, 0.1, True)["verdict"] == "worse"
    assert compare.verdict(base, same, 0.1, True)["verdict"] == "unchanged"
    assert compare.verdict(base, noisy, 0.1, True)["verdict"] == "unresolved"
    # higher-is-better flips the direction
    assert compare.verdict(base, faster, 0.1, False)["verdict"] == "worse"
    row = compare.verdict(base, faster, 0.1, True)
    assert row["won"] == 1.0
    assert row["base"][1] == pytest.approx(10.0)


def test_compare_never_credits_a_change_that_fails_more(tmp_path):
    base = _runs([10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0])
    faster = _runs([v * 0.8 for v in base.values()])
    assert compare.verdict(base, faster, 0.1, True,
                           more_failures=True)["verdict"] == "worse"
    bench = {"end_to_end": [{"name": "wall_s", "unit": "s",
                             "better": "lower", "bound": 0.1}]}
    sides = {}
    for side, values, failed in (("base", base, 0), ("change", faster, 1)):
        path = tmp_path / f"{side}.jsonl"
        path.write_text("".join(json.dumps({
            "workload": "w", "seed": seed, "correct": not failed,
            "attempted": 7, "failed": failed,
            "metrics": {"wall_s": {"value": v, "unit": "s"}}}) + "\n"
            for seed, v in values.items()))
        sides[side] = str(path)
    failed_row, wall_row = compare.compare(sides["base"], sides["change"], bench)
    assert failed_row["base_failed"] == [0, 70]
    assert failed_row["change_failed"] == [10, 70]
    assert wall_row["won"] == 1.0 and wall_row["verdict"] == "worse"


def test_check_compares_values_with_a_float_tolerance():
    import pandas as pd

    from check import canon, same_values

    want = canon(pd.DataFrame({"b": [0.1 + 0.2, 2.0], "a": ["x", "y"]}))
    got = canon(pd.DataFrame({"a": ["y", "x"], "b": [2.0, 0.3]}))
    assert same_values(got, want)
    assert not same_values(got.assign(b=[0.3, 2.001]), want)
    assert not same_values(got.iloc[:1], want)


def test_spread_is_quartile_distance_over_median():
    values = [float(v) for v in range(1, 11)]
    q1, _, q3 = (2.75, 5.5, 8.25)
    assert compare.spread(values) == pytest.approx((q3 - q1) / 5.5)


def test_datagen_is_seeded_and_keeps_residue_classes():
    a = datagen.tables(5)
    b = datagen.tables(5)
    c = datagen.tables(0)
    for name in a:
        assert a[name].equals(b[name]), name
    docs_a = a["documents"]["doc_id"].to_pylist()
    docs_c = c["documents"]["doc_id"].to_pylist()
    assert docs_c[0] == 0 and docs_a[0] != 0
    for m in (7, 9, 10, 13, 17, 20, 50):
        assert [k % m for k in docs_a] == [k % m for k in docs_c], m
    assert max(a["part"]["p_partkey"].to_pylist()) * 3266489917 < 2**63
    small = datagen.tables(5, 0.1)
    assert small["documents"].num_rows == a["documents"].num_rows // 10
    assert small["region"].equals(a["region"])


def test_stopwatch_takes_out_the_stolen_share(monkeypatch):
    import procstat

    ticks = iter([(0, 0), (300, 100), (300, 100), (400, 100)])
    clock = iter([0.0, 2.0, 2.0, 3.0])
    monkeypatch.setattr(procstat, "host_ticks", lambda: next(ticks))
    monkeypatch.setattr(procstat.time, "perf_counter", lambda: next(clock))
    with procstat.Stopwatch() as stolen:
        pass
    with procstat.Stopwatch() as clean:
        pass
    assert stolen.steal_share == pytest.approx(0.25)
    assert stolen.seconds == pytest.approx(1.5)
    assert clean.seconds == pytest.approx(1.0)
    pooled = procstat.Stopwatch(stolen, clean)
    assert pooled.wall == pytest.approx(3.0)
    assert pooled.seconds == pytest.approx(3.0 * 400 / 500)
    assert procstat.Stopwatch().seconds == 0.0
