"""Self-tests of the benchmark harness (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import ast
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import host  # noqa: E402
import workloads  # noqa: E402
from spans import EventLog, Tracer  # noqa: E402

SINKS = {"noop", "run_stage"}  # full-materialization sinks: noop or a table write


def _timed_pass_bodies() -> list[ast.FunctionDef]:
    with open(os.path.join(HERE, "workloads.py")) as f:
        tree = ast.parse(f.read())
    return [
        n for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "run_pass"
        and not (len(n.body) == 1 and isinstance(n.body[0], ast.Expr))  # the abstract stub
    ]


def _called_names(fn: ast.FunctionDef) -> list[str]:
    return [
        c.func.attr if isinstance(c.func, ast.Attribute) else getattr(c.func, "id", "")
        for c in ast.walk(fn)
        if isinstance(c, ast.Call)
    ]


def test_timed_passes_never_count():
    bodies = _timed_pass_bodies()
    assert len(bodies) == len(workloads.WORKLOADS)
    for fn in bodies:
        counts = [
            c for c in ast.walk(fn)
            if isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute)
            and c.func.attr == "count" and not c.args
        ]
        assert not counts, f"run_pass at line {fn.lineno} calls count()"


def test_timed_passes_end_in_a_full_sink():
    for fn in _timed_pass_bodies():
        assert SINKS & set(_called_names(fn)), f"run_pass at line {fn.lineno} has no sink"


def test_count_is_refused_inside_a_timed_pass():
    from pyspark.sql.classic.dataframe import DataFrame

    with workloads.no_count(), pytest.raises(workloads.CountInTimedPass):
        DataFrame.count(object())
    assert DataFrame.count is not None and DataFrame.count.__name__ == "count"


def test_focal_np_matches_brute_force():
    rng = np.random.default_rng(0)
    v = rng.integers(600, 2000, size=(5, 7)).astype(float)
    got = workloads.focal_np(v)
    for y in range(5):
        for x in range(7):
            nb = v[max(0, y - 1) : y + 2, max(0, x - 1) : x + 2]
            assert got["n_nb"][y, x] == nb.size
            assert got["sum_v"][y, x] == nb.sum()
            assert got["min_v"][y, x] == nb.min() and got["max_v"][y, x] == nb.max()


def test_pixel_sums_see_a_moved_value():
    ys, xs = np.mgrid[0:4, 0:4]
    v = workloads.dtm_np(xs, ys)
    moved = v.copy()
    moved[0, 1], moved[1, 0] = v[1, 0], v[0, 1]
    a = workloads.pixel_sums_np(xs, ys, {"value": v})
    b = workloads.pixel_sums_np(xs, ys, {"value": moved})
    assert a["value"] == b["value"] and a["value_key"] != b["value_key"]


def test_host_sizing_is_bounded_by_the_host():
    assert 1 <= host.cores() <= len(os.sched_getaffinity(0))
    assert 512 <= host.driver_heap_mb() <= host.meminfo()["MemTotal"] >> 20
    assert host.descendants_rss() >= 0


def _node(name, metrics=(), children=(), simple=""):
    return {
        "nodeName": name,
        "simpleString": simple or name,
        "metrics": [{"name": n, "accumulatorId": i, "metricType": t} for n, i, t in metrics],
        "children": list(children),
    }


def test_event_log_attributes_operator_metrics_to_spans(tmp_path):
    bcast = _node("BroadcastExchange", [("data size", 1, "size"), ("time to build", 2, "timing")])
    join = _node(
        "BroadcastHashJoin", [("number of output rows", 3, "sum")], [_node("Range"), bcast],
        simple="BroadcastHashJoin [cell#1L], [cell#2L], Inner, BuildRight, false",
    )
    filt = _node("Filter", [("number of output rows", 4, "sum")], [join])
    stage = _node("WholeStageCodegen (1)", [("duration", 5, "timing")], [filt])
    agg = _node("HashAggregate", [("peak memory", 6, "size")], [stage])
    exch = _node("Exchange", [("shuffle write time", 7, "nsTiming")], [agg])
    tracer = Tracer(enabled=True)
    with tracer.span("pass") as root:
        with tracer.span("inner"):
            pass
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "description": "perfbench:1", "sparkPlanInfo": exch},
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"spark.job.description": "perfbench:1"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 0, "accumUpdates": [[1, 4096], [2, 7]]},
    ]
    for run_ms, updates in ((10, {3: 100, 4: 40, 5: 9, 6: 500, 7: 2e6}),
                            (30, {3: 50, 4: 10, 5: 11, 6: 800, 7: 1e6})):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task Info": {"Accumulables": [{"ID": i, "Update": u} for i, u in updates.items()]},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 2},
        })
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    ev = EventLog(str(tmp_path))
    ops = ev.operators(tracer.subtree(root["id"]))
    assert ops == {
        "cover.broadcast_bytes": 4096, "cover.broadcast_build_ms": 7,
        "cover.join_rows": 150, "cover.filter_rows": 50, "cover.probe_ms": 20,
        "aggregate.peak_bytes": 800, "exchange.write_ms": 3.0,
    }
    assert ev.operators({root["id"]}) == {}  # the execution ran in the child span
    tasks = ev.tasks(tracer.subtree(root["id"]))
    assert tasks == {"p50_ms": 20.0, "max_ms": 30.0, "skew": 1.5}
    assert ev.gc_ms(tracer.subtree(root["id"])) == 4.0
    assert ev.tasks({root["id"]}) == {"p50_ms": 0.0, "max_ms": 0.0, "skew": 0.0}
