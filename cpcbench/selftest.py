#!/usr/bin/env python3
"""Cheap checks of the benchmark's own parts; no Spark session needed.

    python3 cpcbench/selftest.py
"""

from __future__ import annotations

import json
import re
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import layers  # noqa: E402
import rawzone  # noqa: E402
import run  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _tree_bytes(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_generator_is_seeded(tmp: Path) -> None:
    a = rawzone.generate(tmp / "a", 5, 3000)
    b = rawzone.generate(tmp / "b", 5, 3000)
    c = rawzone.generate(tmp / "c", 6, 3000)
    assert _tree_bytes(tmp / "a") == _tree_bytes(tmp / "b"), "same seed gave different archives"
    assert a.expected == b.expected and a.planted == b.planted
    assert _tree_bytes(tmp / "a") != _tree_bytes(tmp / "c"), "another seed gave the same archives"
    assert len(_tree_bytes(tmp / "a")) == 8  # four archives for each of two versions
    assert len(a.orphans) == a.planted["orphan_symbols"]
    assert a.old_version < a.new_version


EVENT_LOG = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "bench:w:op:1"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
     "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 300_000_000, "JVM GC Time": 10,
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 1048576},
                      "Input Metrics": {"Bytes Read": 2097152}}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 0, "Number of Tasks": 1, "Submission Time": 1000, "Completion Time": 1500,
        "Accumulables": [{"Name": "time to run Python workers", "Value": "250"},
                         {"Name": "data sent to Python workers", "Value": 1048576}]}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "Success"},
     "Task Metrics": {"Executor Run Time": 100, "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1048576}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "ExceptionFailure"}, "Task Metrics": {}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 1, "Number of Tasks": 2, "Submission Time": 1500, "Completion Time": 1900, "Accumulables": []}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1900},
    # an untagged job (a streaming micro-batch) attributed by its time
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2100, "Stage IDs": [2], "Properties": {}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2300},
    # outside every op
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000, "Stage IDs": [3], "Properties": {}},
]


def test_reducer(tmp: Path) -> None:
    app = tmp / "eventlog_v2_local-1"
    app.mkdir(parents=True)
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in EVENT_LOG[:5]) + "\n")
    (app / "events_2_local-1").write_text("\n".join(json.dumps(e) for e in EVENT_LOG[5:]) + "\n")
    files = layers.event_log_files(str(tmp))
    assert [Path(f).name for f in files] == ["events_1_local-1", "events_2_local-1"]
    got = layers.reduce_event_log(files, [("w:op:1", 900.0, 2000.0, 1200.0), ("w:op2:1", 2000.0, 2500.0, 2000.0)])
    m = got["w:op:1"]
    assert m["spark.jobs"] == 1 and m["spark.stages"] == 2 and m["spark.tasks"] == 3
    assert m["queries.build_jobs"] == 1
    assert abs(m["spark.task_success_ratio"] - 2 / 3) < 1e-9
    assert abs(m["spark.job_span_s"] - 0.9) < 1e-9 and abs(m["spark.driver_gap_s"] - 0.2) < 1e-9
    assert m["spark.single_task_stages"] == 1 and abs(m["spark.single_task_stage_s"] - 0.5) < 1e-9
    assert abs(m["spark.executor_run_s"] - 0.5) < 1e-9 and abs(m["spark.executor_cpu_s"] - 0.3) < 1e-9
    assert m["spark.shuffle_write_mb"] == 1.0 and m["spark.shuffle_read_mb"] == 1.0 and m["spark.input_mb"] == 2.0
    assert abs(m["spark.python_run_s"] - 0.25) < 1e-9 and m["spark.python_sent_mb"] == 1.0
    m2 = got["w:op2:1"]
    assert m2["spark.jobs"] == 1 and abs(m2["spark.job_span_s"] - 0.2) < 1e-9 and m2["queries.build_jobs"] == 0


def test_metric_names() -> None:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    bad = [n for n in names if not NAME_RE.fullmatch(n)]
    assert not bad, f"bad metric names: {bad}"
    assert [w["name"] for w in spec["workloads"]] == run.W.WORKLOADS


def test_op_tail() -> None:
    assert run.op_tail([1.0] * 10) is None
    p, v = run.op_tail([float(i) for i in range(1, 101)])
    assert (p, v) == (90, 90.0)


def main() -> int:
    tmp = HERE.parent / ".cpcbench" / "selftest"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        test_generator_is_seeded(tmp / "gen")
        test_reducer(tmp / "log")
        test_metric_names()
        test_op_tail()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
