"""Spans recorded around calls into engine layers, and Spark task metrics
read back from the event log and grouped by the job description each
span sets.

A span is ``(span_id, name, layer, start, end, parent, run_id)``; times
are seconds on the monotonic clock relative to the tracer's start. Spans
stay in memory and are written as one JSON file by :meth:`Tracer.write`.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTS_LAYER = "trace.counts"  # jobs that only compute trace counts
INPUT_LAYER = "trace.input"    # jobs that materialize a layer's input
UNTIMED_LAYERS = (COUNTS_LAYER, INPUT_LAYER)


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.t0 = time.monotonic()
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str):
        """Time one call into ``layer``; Spark jobs started inside carry
        ``layer`` as their job description."""
        span_id = len(self.spans)
        rec = {"span_id": span_id, "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.monotonic() - self.t0,
               "end": None}
        self.spans.append(rec)
        self._stack.append(span_id)
        self.sc.setJobDescription(layer)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic() - self.t0
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["layer"] if self._stack else None
            self.sc.setJobDescription(parent)

    def count(self, name: str, value: float) -> None:
        self.counts[name] = value

    def layer_seconds(self, layer: str, name: str | None = None) -> float:
        """Summed duration of the top-level spans of ``layer``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["layer"] == layer and s["parent"] is None
                   and (name is None or s["name"] == name))

    def span_sum(self) -> float:
        """Summed duration of the top-level spans of engine layers."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] is None and s["layer"] not in UNTIMED_LAYERS)

    def write(self, path: str, metrics: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "counts": self.counts, "metrics": metrics}, f, indent=1)


def _plan_metric_names(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for child in plan.get("children", []):
        _plan_metric_names(child, out)


class LayerStats:
    """Task metrics of every Spark job whose description names a layer."""

    def __init__(self):
        self.executor_cpu_s = 0.0
        self.gc_s = 0.0
        self.shuffle_read_bytes = 0
        self.shuffle_write_bytes = 0
        self.spill_bytes = 0
        self.task_s: dict[int, list[float]] = defaultdict(list)
        # SQL metrics by (plan node, metric), from tasks and from planning
        self.sql: dict[tuple[str, str], int] = defaultdict(int)

    def task_skew(self) -> float:
        """max / median task time in the stage with the most task time."""
        if not self.task_s:
            return 0.0
        durs = max(self.task_s.values(), key=sum)
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 0.0

    def sql_sum(self, metric: str, node: str | None = None) -> int:
        return sum(v for (n, m), v in self.sql.items()
                   if m == metric and (node is None or n == node))


def _log_files(log_dir: str) -> list[list[str]]:
    """Event log files (``<app dir>/events_<n>_<app id>``) grouped per
    application, in write order."""
    return [sorted(glob.glob(os.path.join(app, "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
            for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")))]


def read_event_log(log_dir: str) -> dict[str, LayerStats]:
    """Group the task metrics in every event log under ``log_dir`` by the
    description of the job that ran the task."""
    layers: dict[str, LayerStats] = defaultdict(LayerStats)
    for files in _log_files(log_dir):
        # stage, execution and accumulator ids restart in every application
        app = {"stage_layer": {}, "exec_layer": {}, "acc_names": {},
               "plan_updates": []}
        for path in files:
            with open(path) as f:
                for line in f:
                    _fold_event(json.loads(line), app, layers)
        # metrics posted while planning (e.g. scan file sizes), per SQL execution
        for exec_id, acc_id, value in app["plan_updates"]:
            layer = app["exec_layer"].get(exec_id)
            key = app["acc_names"].get(acc_id)
            if layer is not None and key is not None:
                layers[layer].sql[key] += int(value)
    return layers


def _fold_event(ev: dict, app: dict, layers: dict[str, LayerStats]) -> None:
    kind = ev["Event"]
    stage_layer, acc_names = app["stage_layer"], app["acc_names"]
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        desc = props.get("spark.job.description")
        for sid in ev["Stage IDs"]:
            stage_layer.setdefault(sid, desc)
        if "spark.sql.execution.id" in props:
            app["exec_layer"].setdefault(int(props["spark.sql.execution.id"]), desc)
    elif kind.endswith(("SparkListenerSQLExecutionStart",
                        "SparkListenerSQLAdaptiveExecutionUpdate")):
        _plan_metric_names(ev["sparkPlanInfo"], acc_names)
    elif kind.endswith("SparkListenerDriverAccumUpdates"):
        for acc_id, value in ev["accumUpdates"]:
            app["plan_updates"].append((ev["executionId"], acc_id, value))
    elif kind == "SparkListenerTaskEnd":
        layer = stage_layer.get(ev["Stage ID"])
        tm = ev.get("Task Metrics")
        if layer is None or tm is None:
            return
        st = layers[layer]
        st.executor_cpu_s += tm["Executor CPU Time"] / 1e9
        st.gc_s += tm["JVM GC Time"] / 1e3
        sr = tm["Shuffle Read Metrics"]
        st.shuffle_read_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
        st.shuffle_write_bytes += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        st.spill_bytes += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
        info = ev["Task Info"]
        st.task_s[ev["Stage ID"]].append(
            (info["Finish Time"] - info["Launch Time"]) / 1e3)
        for acc in info.get("Accumulables", []):
            key = acc_names.get(acc.get("ID"))
            if key is not None:
                try:
                    st.sql[key] += int(acc.get("Update", 0))
                except (TypeError, ValueError):
                    pass
