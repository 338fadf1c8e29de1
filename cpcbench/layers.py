"""Layer tracing for the traced benchmark run, all from outside the package.

Three sources, each switched on only when ``--trace 1``:

* :class:`Spans` -- wrappers around the public functions of the layer
  modules (``queries``, ``plans``, ``sources``, ``operators.*``) that count
  calls and time the outermost call per layer;
* :class:`StreamProgress` -- a ``StreamingQueryListener`` that keeps every
  micro-batch progress event;
* :func:`reduce_event_log` -- reads Spark's uncompressed JSON event log and
  sums job, stage and task figures per op.

Every figure is attributed to an op by its wall-clock interval: the loop has
one client, so each job, batch and call in an op's interval belongs to it.
Jobs that carry a ``bench:`` job group are attributed by that tag instead.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import sys
import threading
import time
from collections import defaultdict
from datetime import datetime

MB = 1024.0 * 1024.0

#: the operator modules whose public functions are traced
OPERATOR_MODULES = ("dedup", "similarity", "components", "graph", "iterutils", "index_store", "bpe")
#: layer name -> module path, for the boundary wrappers
LAYER_MODULES = {
    "plans": ["etl_cpc_schema_spark.plans.cpc_pipeline"],
    "sources": ["etl_cpc_schema_spark.sources.manifest", "etl_cpc_schema_spark.sources.readers"],
    **{f"operators.{m}": [f"etl_cpc_schema_spark.operators.{m}"] for m in OPERATOR_MODULES},
}
#: sub-layers timed apart from their layer's total
SUB_LAYERS = {
    "sources.manifest": {"manifest_df", "new_versions", "load_processed", "record_processed"},
    "sources.write": {"write_parquet", "write_csv"},
    "operators.iterutils.checkpoints": {"iter_checkpoint", "checkpoint_with_probe"},
    "operators.index_store.write": {
        "writer_lock", "reset", "write_delta", "rollback_delta", "append_tombstones", "promote_generation",
    },
    "operators.index_store.read": {"active_root", "table_path", "committed_delta_dirs", "read_table", "tombstones"},
}


class Spans:
    """Call counts and outermost-call seconds per layer, per op.

    ``begin(op)`` opens an op; every wrapped call until the next ``begin``
    is charged to it.  Nested calls within one layer are counted but timed
    once, at the outermost call, so a layer's seconds never exceed the op's
    wall time."""

    def __init__(self) -> None:
        self.calls: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        self.secs: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._op = "setup"
        self._depth: dict[str, int] = defaultdict(int)
        self._lock = threading.Lock()

    def begin(self, op: str) -> None:
        self._op = op

    def wrap(self, layers: tuple[str, ...], fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            op = self._op
            with self._lock:
                outer = [layer for layer in layers if self._depth[layer] == 0]
                for layer in layers:
                    self._depth[layer] += 1
                    self.calls[op][layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with self._lock:
                    for layer in layers:
                        self._depth[layer] -= 1
                    for layer in outer:
                        self.secs[op][layer] += dt

        return traced

    def install(self) -> None:
        """Wrap every public function of the layer modules, and rebind each
        module-level alias of a wrapped function across the package, so
        ``from .x import f`` callers are traced too."""
        import importlib

        replaced: dict[int, object] = {}
        for layer, modules in LAYER_MODULES.items():
            for name in modules:
                mod = importlib.import_module(name)
                for attr, fn in list(vars(mod).items()):
                    if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != name:
                        continue
                    layers = (layer,) + tuple(s for s, names in SUB_LAYERS.items() if attr in names and s.startswith(layer))
                    wrapped = self.wrap(layers, fn)
                    setattr(mod, attr, wrapped)
                    replaced[id(fn)] = wrapped
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("etl_cpc_schema_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in replaced and inspect.isfunction(val):
                    setattr(mod, attr, replaced[id(val)])


class StreamProgress:
    """Keeps each micro-batch's progress with its start time in epoch ms."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "ts_ms": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() * 1000.0,
                    "rows": p.numInputRows,
                    "dur": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                    "late": sum(s.numRowsDroppedByWatermark for s in p.stateOperators),
                }
                with outer._lock:
                    outer.events.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def per_op(self, windows: list[tuple[str, float, float, float]]) -> dict[str, dict[str, float]]:
        """streaming.* figures per op; ``windows`` holds (op, start, end,
        build end) in epoch ms."""
        out: dict[str, dict[str, float]] = {}
        with self._lock:
            events = list(self.events)
        for op, t0, t1, _ in windows:
            evs = [e for e in events if t0 <= e["ts_ms"] <= t1]
            d = lambda *keys: sum(e["dur"].get(k, 0) for e in evs for k in keys) / 1000.0  # noqa: E731
            trigger = d("triggerExecution")
            m = {
                "streaming.batches": len(evs),
                "streaming.empty_batches": sum(1 for e in evs if e["rows"] == 0),
                "streaming.input_rows": sum(e["rows"] for e in evs),
                "streaming.trigger_s": trigger,
                "streaming.add_batch_s": d("addBatch"),
                "streaming.planning_s": d("queryPlanning"),
                "streaming.offsets_s": d("latestOffset", "getBatch"),
                "streaming.commit_s": d("walCommit", "commitOffsets"),
                "streaming.outside_batch_s": (t1 - t0) / 1000.0 - trigger if evs else 0.0,
                "streaming.state_rows": max((e["state_rows"] for e in evs), default=0),
                "streaming.state_mb": max((e["state_bytes"] for e in evs), default=0) / MB,
                "streaming.late_rows_dropped": sum(e["late"] for e in evs),
            }
            out[op] = m
        return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_PY_ACCUMULABLES = {
    "time to run Python workers": ("spark.python_run_s", 1e-3),
    "time to start Python workers": ("spark.python_start_s", 1e-3),
    "data sent to Python workers": ("spark.python_sent_mb", 1.0 / MB),
    "data returned from Python workers": ("spark.python_returned_mb", 1.0 / MB),
}


def event_log_files(log_dir: str) -> list[str]:
    """The event files of every application logged in ``log_dir``: rolling
    ``eventlog_v2_*/events_*`` parts in order, or single-file logs."""
    files = []
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(app):
            parts = glob.glob(os.path.join(app, "events_*"))
            files += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        elif not app.endswith(".inprogress") or not os.path.exists(app[: -len(".inprogress")]):
            files.append(app)
    return files


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total / 1000.0


def reduce_event_log(files: list[str], windows: list[tuple[str, float, float, float]]) -> dict[str, dict[str, float]]:
    """spark.* figures, and the jobs launched while the op's query was
    being built, per op from event-log ``files``.

    ``windows`` holds (op, start, end, build end) in epoch ms.  A job belongs to the op
    named by its ``bench:`` job group when it has one, otherwise to the op
    whose interval holds its submission time; its stages and tasks follow
    the job.  Timestamps are the events' own milliseconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {"start": ev["Submission Time"], "end": None, "group": props.get("spark.jobGroup.id", "")}
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", ())}
                    stages[info["Stage ID"]] = {
                        "tasks": info["Number of Tasks"],
                        "dur": (info.get("Completion Time") or 0) - (info.get("Submission Time") or 0),
                        "acc": acc,
                    }
                elif kind == "SparkListenerTaskEnd":
                    t = tasks[ev["Stage ID"]]
                    t["n"] += 1
                    t["ok"] += ev.get("Task End Reason", {}).get("Reason") == "Success"
                    m = ev.get("Task Metrics") or {}
                    t["run"] += m.get("Executor Run Time", 0) / 1000.0
                    t["cpu"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    t["sw"] += sw.get("Shuffle Bytes Written", 0) / MB
                    t["sr"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
                    t["spill"] += m.get("Disk Bytes Spilled", 0) / MB
                    t["in"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
                    t["out"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB

    def owner(job: dict) -> str | None:
        if job["group"].startswith("bench:"):
            return job["group"].split(":", 1)[1]
        for op, t0, t1, _ in windows:
            if t0 <= job["start"] <= t1:
                return op
        return None

    job_op = {jid: owner(j) for jid, j in jobs.items()}
    out: dict[str, dict[str, float]] = {}
    for op, t0, t1, tb in windows:
        mine = [jid for jid, o in job_op.items() if o == op]
        span = _union_s([(jobs[j]["start"], jobs[j]["end"] or t1) for j in mine])
        m = defaultdict(float)
        m["queries.build_jobs"] = sum(1 for j in mine if jobs[j]["start"] < tb)
        m["spark.jobs"] = len(mine)
        m["spark.job_span_s"] = span
        m["spark.driver_gap_s"] = (t1 - t0) / 1000.0 - span
        mine_set = set(mine)
        for sid, st in stages.items():
            if stage_job.get(sid) not in mine_set:
                continue
            t = tasks.get(sid, {})
            m["spark.stages"] += 1
            m["spark.tasks"] += t.get("n", 0)
            m["spark.task_ok"] += t.get("ok", 0)
            if st["tasks"] == 1:
                m["spark.single_task_stages"] += 1
                m["spark.single_task_stage_s"] += st["dur"] / 1000.0
            for key, name in (("run", "executor_run_s"), ("cpu", "executor_cpu_s"), ("gc", "gc_s"), ("sw", "shuffle_write_mb"),
                              ("sr", "shuffle_read_mb"), ("spill", "spill_mb"), ("in", "input_mb"), ("out", "output_mb")):
                m[f"spark.{name}"] += t.get(key, 0.0)
            for acc_name, (metric, scale) in _PY_ACCUMULABLES.items():
                val = st["acc"].get(acc_name)
                if val is not None:
                    m[metric] += float(str(val).replace(",", "")) * scale
        m["spark.task_success_ratio"] = m.pop("spark.task_ok") / m["spark.tasks"] if m["spark.tasks"] else 1.0
        for metric, _ in _PY_ACCUMULABLES.values():
            m.setdefault(metric, 0.0)
        out[op] = dict(m)
    return out
