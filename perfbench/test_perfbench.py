"""Tests of the benchmark's own code.

    python -m pytest perfbench -q

The end-to-end tests run ``perfbench/run.py`` once per declared workload
with tracing off and on, at full size (several minutes in total).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import inputs
from perfbench.trace import Tracer, read_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")
SPAN_KEYS = {"span_id", "name", "layer", "start", "end", "parent", "run_id"}


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_names(kind: str) -> set[str]:
    return {m["name"] for m in declared()[kind]}


class _Context:
    def setJobDescription(self, value):  # noqa: N802 (Spark's API name)
        self.description = value


class _Session:
    sparkContext = _Context()


def test_same_seed_same_digest_other_seed_differs():
    def digest(seed):
        box = inputs.hot_box(seed, 4)
        return inputs.input_digest(
            pages=inputs.PagesSpec(seed, 3000, hot_box=box),
            rings=inputs.hotspot_polygons(seed, box, 3, 8),
            scenes=inputs.ScenesSpec(seed, 1, 1, 64, 64, 2))

    assert digest(5) == digest(5)
    assert digest(5) != digest(6)


def test_metric_names_are_well_formed():
    from perfbench.run import layer_metrics
    from perfbench.workloads import LAYERS, SPAN_LAYERS

    tr = Tracer(_Session(), "t")
    layer = layer_metrics(tr, {}, {"start_s": 1.0, "worker_warm_s": 1.0},
                          1.0, LAYERS, SPAN_LAYERS)
    names = set(layer) | metric_names("end_to_end") | metric_names("per_layer")
    assert all(NAME.fullmatch(n) for n in names)
    assert set(layer) == metric_names("per_layer")


def test_event_log_grouped_by_job_description(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    plan = {"nodeName": "MapInPandas", "children": [],
            "metrics": [{"name": "data sent to Python workers",
                         "accumulatorId": 7}]}
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
            "Task Info": {"Launch Time": 1000, "Finish Time": 3000,
                          "Accumulables": [{"ID": 7, "Update": 512}]},
            "Task Metrics": {
                "Executor CPU Time": 2_000_000_000, "JVM GC Time": 100,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": 40},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 60},
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5}}
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [3],
         "Properties": {"spark.job.description": "functions.geo"}},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        task, task,
    ]
    (app / "events_1_local-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    layers = read_event_log(str(tmp_path))
    geo = layers["functions.geo"]
    assert geo.executor_cpu_s == pytest.approx(4.0)
    assert geo.gc_s == pytest.approx(0.2)
    assert (geo.shuffle_read_bytes, geo.shuffle_write_bytes, geo.spill_bytes) == (80, 120, 10)
    assert geo.sql_sum("data sent to Python workers") == 1024
    assert geo.task_skew() == pytest.approx(1.0)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         declared()["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
         "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
        timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def run_bench(workload: str, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[-2]


@pytest.mark.parametrize("workload", [w["name"] for w in declared()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_every_declared_metric(workload, trace):
    result, info = run_bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in declared()[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    if trace:
        path = json.loads(info.split(" ", 2)[2])["trace_file"]
        with open(os.path.join(ROOT, path)) as f:
            doc = json.load(f)
        assert doc["spans"] and all(set(s) == SPAN_KEYS for s in doc["spans"])
        assert all(s["end"] >= s["start"] for s in doc["spans"])
        assert isinstance(doc["counts"], dict)
        assert set(doc["metrics"]) == set(units)
