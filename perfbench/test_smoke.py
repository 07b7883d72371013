"""Smoke tests for the benchmark harness, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

The end-to-end cases start Spark (about a minute each); the others are
pure Python.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from spans import Span, Tracer, event_log_groups  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(args, cwd=ROOT, timeout=300):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


def test_benchmark_json_names_every_workload():
    from workloads import WORKLOADS  # noqa: PLC0415 (imports pyspark)
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


class _FakeSc:
    def setJobGroup(self, *a):
        pass

    def setLocalProperty(self, *a):
        pass


def test_self_time_subtracts_children():
    tr = Tracer(_FakeSc())
    tr.spans = [Span("op", 0.0, 10.0, None), Span("a", 1.0, 4.0, 0),
                Span("b", 5.0, 6.0, 0)]
    tr.add("a.child", 2.0, 3.0)
    st = tr.self_times()
    assert st == pytest.approx({"op": 6.0, "a": 2.0, "b": 1.0,
                                "a.child": 1.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_event_log_groups(tmp_path):
    props = {"spark.jobGroup.id": "layer"}
    events = [
        {"Event": "SparkListenerJobStart", "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Properties": props,
         "Stage Info": {"Stage ID": 3, "Stage Attempt ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Stage Attempt ID": 0,
         "Task End Reason": {"Reason": "Success"}, "Task Info": {},
         "Task Metrics": {"JVM GC Time": 20, "Memory Bytes Spilled": 0,
                          "Disk Bytes Spilled": 2_000_000,
                          "Shuffle Read Metrics": {"Fetch Wait Time": 500},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 3_000_000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Stage Attempt ID": 0,
         "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {"Failed": True}, "Task Metrics": {}},
    ]
    log = tmp_path / "log"
    log.write_text("\n".join(json.dumps(e) for e in events))
    g = event_log_groups(log)["layer"]
    assert g == pytest.approx({"jobs": 1, "tasks": 2, "failed_tasks": 1,
                               "shuffle_write_mb": 3.0, "fetch_wait_s": 0.5,
                               "spill_mb": 2.0, "gc_s": 0.02})


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = _run(["--workload", "caption_batch", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=tmp_path, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("workload,rows", [("caption_batch", 300),
                                           ("streaming_waves", 200),
                                           ("knn_vectors", 300)])
@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_every_metric(workload, rows, trace):
    p = _run(["--workload", workload, "--seed", "7", "--seconds", "1",
              "--trace", str(trace), "--rows", str(rows)])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in declared}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        busy = sum(v for k, v in m.items() if k.endswith(".busy_s"))
        assert busy == pytest.approx(m["trace.wall_s"], rel=1e-6)
