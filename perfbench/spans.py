"""Spans around the benchmark's calls into each layer, and the Spark
event-log reader that attributes operator and task metrics to them.

A span records name, start, end, parent and run id, and stays in
memory until ``Tracer.dump``. While a span is open, Spark's job
description is ``perfbench:<span id>``; every SQL execution and job
started inside it carries that description into the event log, which
is how ``EventLog`` maps Spark's own metrics back onto spans.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
import uuid
from collections import defaultdict

DESC_PREFIX = "perfbench:"


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span; a no-op when tracing is off."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._describe(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._describe(self._stack[-1] if self._stack else None)

    def _describe(self, sid: int | None) -> None:
        if self.spark is not None:
            desc = None if sid is None else f"{DESC_PREFIX}{sid}"
            self.spark.sparkContext.setJobDescription(desc)

    def subtree(self, sid: int) -> set[int]:
        out, grew = {sid}, True
        while grew:
            grew = False
            for s in self.spans:
                if s["parent"] in out and s["id"] not in out:
                    out.add(s["id"])
                    grew = True
        return out

    def find(self, name: str, under: int | None = None) -> list[dict]:
        scope = self.subtree(under) if under is not None else None
        return [s for s in self.spans if s["name"] == name and (scope is None or s["id"] in scope)]

    def seconds(self, name: str, under: int | None = None) -> float:
        """Total duration of the named spans (under one root)."""
        return sum(s["end"] - s["start"] for s in self.find(name, under))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def event_log_files(log_dir: str) -> list[str]:
    """Event-log parts of the newest application in ``log_dir``: the
    v2 rolling layout (``eventlog_v2_*/events_*``) or a single file."""
    apps = [os.path.join(log_dir, n) for n in os.listdir(log_dir)]
    latest = max(apps, key=os.path.getmtime)
    if not os.path.isdir(latest):
        return [latest]

    def part_no(name: str) -> int:
        return int(name.split("_")[1])

    names = sorted((n for n in os.listdir(latest) if n.startswith("events_")), key=part_no)
    return [os.path.join(latest, n) for n in names]


# (operator, metric) -> output key; "max" keys keep the largest update
_OPERATOR_METRICS = {
    ("HashAggregate", "time in aggregation build"): "aggregate.build_ms",
    ("HashAggregate", "peak memory"): "aggregate.peak_bytes",
    ("HashAggregate", "spill size"): "aggregate.spill_bytes",
    ("Exchange", "shuffle bytes written"): "exchange.bytes_written",
    ("Exchange", "shuffle records written"): "exchange.records_written",
    ("Exchange", "shuffle write time"): "exchange.write_ms",
    ("Exchange", "fetch wait time"): "exchange.fetch_wait_ms",
    ("python", "time to run Python workers"): "python.run_ms",
    ("python", "time to initialize Python workers"): "python.init_ms",
    ("python", "data sent to Python workers"): "python.sent_bytes",
    ("python", "data returned from Python workers"): "python.returned_bytes",
    ("cover_broadcast", "data size"): "cover.broadcast_bytes",
    ("cover_broadcast", "time to build"): "cover.broadcast_build_ms",
    ("cover_join", "number of output rows"): "cover.join_rows",
    ("cover_filter", "number of output rows"): "cover.filter_rows",
    ("cover_stage", "duration"): "cover.probe_ms",
}
_MAX_KEYS = {"aggregate.peak_bytes"}


def _role(node: dict) -> str:
    name = node["nodeName"]
    if "InPandas" in name or "ArrowEvalPython" in name or "BatchEvalPython" in name:
        return "python"
    return name


def _is_cover_join(node: dict) -> bool:
    # the point-in-polygon cover join is the inner broadcast equi-join on
    # the cell key (run_stage's resume anti-join and the checks' joins
    # are not)
    s = node.get("simpleString", "")
    return node["nodeName"] == "BroadcastHashJoin" and " Inner" in s and "[cell#" in s


class EventLog:
    """Operator and task metrics from one application's event log,
    keyed by the span whose job description they carry."""

    def __init__(self, log_dir: str):
        self.acc: dict[int, tuple[int, str, str]] = {}  # id -> (exec, key, type)
        self.updates: dict[int, list[float]] = defaultdict(list)
        self.exec_span: dict[int, int] = {}
        self.stage_span: dict[int, int] = {}
        self.stage_tasks: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for path in event_log_files(log_dir):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    @staticmethod
    def _span_of(desc: str | None) -> int | None:
        if desc and desc.startswith(DESC_PREFIX):
            return int(desc[len(DESC_PREFIX):])
        return None

    def _plan(self, exec_id: int, node: dict, ancestors: list[dict]) -> None:
        roles = [_role(node)]
        if _is_cover_join(node):
            roles.append("cover_join")
        kids = node.get("children", [])
        if node["nodeName"] == "Filter" and any(_is_cover_join(k) for k in kids):
            roles.append("cover_filter")
        if node["nodeName"] == "BroadcastExchange" and any(
            _is_cover_join(a) for a in ancestors[-2:]
        ):
            roles.append("cover_broadcast")
        if node["nodeName"].startswith("WholeStageCodegen") and _contains_cover_join(node):
            roles.append("cover_stage")
        for m in node.get("metrics", []):
            for role in roles:
                key = _OPERATOR_METRICS.get((role, m["name"]))
                if key:
                    self.acc[m["accumulatorId"]] = (exec_id, key, m["metricType"])
        for k in kids:
            self._plan(exec_id, k, ancestors + [node])

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart"):
            sid = self._span_of(ev.get("description"))
            if sid is not None:
                self.exec_span[ev["executionId"]] = sid
            self._plan(ev["executionId"], ev["sparkPlanInfo"], [])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(ev["executionId"], ev["sparkPlanInfo"], [])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev["accumUpdates"]:
                self.updates[acc_id].append(value)
        elif kind == "SparkListenerJobStart":
            sid = self._span_of((ev.get("Properties") or {}).get("spark.job.description"))
            if sid is not None:
                for stage_id in ev.get("Stage IDs", []):
                    self.stage_span[stage_id] = sid
        elif kind == "SparkListenerTaskEnd":
            for a in ev["Task Info"].get("Accumulables", []):
                if "Update" in a and isinstance(a["Update"], (int, float, str)):
                    try:
                        self.updates[a["ID"]].append(float(a["Update"]))
                    except ValueError:
                        continue
            tm = ev.get("Task Metrics") or {}
            if "Executor Run Time" in tm:
                self.stage_tasks[ev["Stage ID"]].append(
                    (tm["Executor Run Time"], tm.get("JVM GC Time", 0))
                )

    def operators(self, spans: set[int]) -> dict[str, float]:
        """Operator metrics of every SQL execution started in ``spans``
        (times in ms, sizes in bytes)."""
        execs = {e for e, s in self.exec_span.items() if s in spans}
        out: dict[str, float] = defaultdict(float)
        for acc_id, (exec_id, key, mtype) in self.acc.items():
            vals = self.updates.get(acc_id)
            if exec_id not in execs or not vals:
                continue
            v = max(vals) if key in _MAX_KEYS else sum(vals)
            if mtype == "nsTiming":
                v /= 1e6
            out[key] = max(out[key], v) if key in _MAX_KEYS else out[key] + v
        return dict(out)

    def _stages(self, spans: set[int]) -> list[int]:
        return [s for s, sid in self.stage_span.items() if sid in spans and self.stage_tasks[s]]

    def tasks(self, spans: set[int]) -> dict[str, float]:
        """Task run times of the heaviest stage (by summed run time)
        started in ``spans``: median, max and skew (max / median)."""
        stages = self._stages(spans)
        if not stages:
            return {"p50_ms": 0.0, "max_ms": 0.0, "skew": 0.0}
        heavy = max(stages, key=lambda s: sum(t for t, _ in self.stage_tasks[s]))
        times = [t for t, _ in self.stage_tasks[heavy]]
        p50, mx = statistics.median(times), max(times)
        return {"p50_ms": float(p50), "max_ms": float(mx), "skew": mx / p50 if p50 else 0.0}

    def gc_ms(self, spans: set[int]) -> float:
        """JVM GC time of every task started in ``spans``."""
        return float(sum(g for s in self._stages(spans) for _, g in self.stage_tasks[s]))


def _contains_cover_join(node: dict) -> bool:
    """Whether a codegen stage fuses the cover join (stops at stage
    boundaries: inputs and query stages belong to other stages)."""
    for k in node.get("children", []):
        if _is_cover_join(k):
            return True
        if k["nodeName"] in ("InputAdapter", "BroadcastQueryStage", "ShuffleQueryStage"):
            continue
        if not k["nodeName"].startswith("WholeStageCodegen") and _contains_cover_join(k):
            return True
    return False
