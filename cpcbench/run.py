#!/usr/bin/env python3
"""The repository benchmark: workloads run through the package's public
entry points, a closed loop with one client on ``local[<cores>]``.

    python3 cpcbench/run.py --workload cpc_refresh --seed 1 --seconds 5 --trace 0
    python3 cpcbench/run.py --workload all --seed 1 --seconds 5

Run it from the root of a checkout.  ``--trace 0`` times the workload with
every probe off and prints the end-to-end metrics; ``--trace 1`` makes a
traced run (event log, streaming listener, boundary wrappers) that prints the
per-layer metrics and the tracing overhead: the pass_s of its traced passes
over that of one pass made before them, in the same process, with the
wrappers and the listener off.  Spark switches its event log on only at
session start, so the event log is on in both and its cost is not in the
ratio; the pass without them runs first, so warm-up left over slows it
rather than the traced passes.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; a readable
report, with ``op_tail_s`` and ``error_rate``, goes to standard error.

A pass runs the workload's op list once; ``spark.catalog.clearCache()`` runs
between passes, untimed.  Set-up (session start, one Python worker per core,
warm-up passes over small inputs, and the process-lifetime index builds the
ops need) ends at the first timed op; ``setup_s`` leaves out the
making of the benchmark's own inputs and expected outputs, which happens
first.  Passes repeat until ``--seconds`` of op time is spent.  Inputs are
the read-only tables bench.py reads (``$SPARK_GRAFT_SF_DIR``, else the sf0.1
sibling of ``__spark_entry__.SF0001``) and a CPC raw zone generated from the
seed; run files go to ``.cpcbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import ast  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".cpcbench"
MB = 1024.0 * 1024.0

sys.path.insert(0, str(HERE))
import workloads as W  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END_UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER_UNITS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def fail(msg: str) -> None:
    log(f"cpcbench: {msg}")
    sys.exit(2)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def op_tail(samples: list[float]) -> tuple[int, float] | None:
    """(p, value) for the highest whole percentile with at least ten samples
    above it (nearest-rank), or None when there are too few samples."""
    s = sorted(samples)
    for p in range(99, 0, -1):
        rank = math.ceil(p / 100.0 * len(s))
        if len(s) - rank >= 10:
            return p, s[rank - 1]
    return None


def default_sf_dir() -> str:
    """The sf0.1 sibling of the tables ``__spark_entry__.SF0001`` names, read
    from its source: importing it would load pyspark before set-up starts."""
    tree = ast.parse((ROOT / "__spark_entry__.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) == "SF0001":
            return str(Path(ast.literal_eval(node.value)).with_name("sf0.1"))
    raise LookupError("__spark_entry__.py defines no SF0001")


def run_child(args, workload: str, trace: int) -> dict:
    """The result line of this benchmark run for ``workload`` in a child process."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True, timeout=170).stdout
    return json.loads(out.strip().splitlines()[-1])


def configure_env(run_dir: Path) -> None:
    """Keep every scratch file of Python, the JVM and Spark in ``run_dir``."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile

    tempfile.tempdir = None


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM to exit: the gateway JVM ends when
    its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run_workload(args) -> dict:
    WORK.mkdir(exist_ok=True)
    for stale in WORK.glob("run-*"):  # left by runs that were killed
        if not Path(f"/proc/{stale.name[4:]}").exists():
            shutil.rmtree(stale, ignore_errors=True)
    run_dir = WORK / f"run-{os.getpid()}"
    configure_env(run_dir)
    sys.path.insert(0, str(ROOT))
    import bench

    t0 = time.perf_counter()
    wl = W.make(args.workload, args.sf_dir, ROOT, WORK)
    wl.prepare(args.seed)
    prep_s = time.perf_counter() - t0
    log(f"[{args.workload}] inputs ready in {prep_s:.2f}s")

    trace = bool(args.trace)
    conf = {}
    if trace:
        import layers as T

        spans, progress = T.Spans(), T.StreamProgress()
        log_dir = run_dir / "eventlog"
        log_dir.mkdir()
        conf = {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false", "spark.eventLog.dir": str(log_dir)}
    jiffies0 = bench._cpu_jiffies()
    t0 = time.perf_counter()
    from etl_cpc_schema_spark.session import get_spark

    spark = get_spark(app_name=f"cpcbench-{args.workload}", extra_conf=conf)
    session = {"session.start_s": time.perf_counter() - t0}
    sc = spark.sparkContext

    def tag(op: str, pass_no: int) -> None:
        if trace:
            key = f"{args.workload}:{op}:{pass_no}"
            sc.setJobGroup(f"bench:{key}", key)
            spans.begin(key)

    results: list[W.OpResult] = []

    def run_op(op: str, pass_no: int) -> W.OpResult:
        t0, t0_ms = time.perf_counter(), time.time() * 1000.0
        try:
            res = wl.run_op(spark, op, pass_no, tag)
        except Exception as exc:  # an op that raises counts as failed; the loop goes on
            wall = time.perf_counter() - t0
            t1_ms = t0_ms + wall * 1000.0
            res = W.OpResult(op, pass_no, 0.0, wall, t0_ms, t1_ms, t1_ms, False, f"{type(exc).__name__}: {exc}")
            wl.reset()
        if not res.ok:
            log(f"[{args.workload}] FAILED {op} pass {pass_no}: {res.error}")
        results.append(res)
        return res

    # set-up: one Python worker per core, then the warm-up passes, which
    # also build the indexes the ops keep for the process
    t0 = time.perf_counter()

    def _warm_workers(batches):
        import numpy  # noqa: F401

        yield from batches

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(16 * cores).repartition(cores).mapInPandas(_warm_workers, schema="id long").collect()
    index_build_s = 0.0
    for _ in range(wl.warm_passes):
        for op in wl.ops:
            t1 = time.perf_counter()
            run_op(op, 0)
            if op in bench.INDEX_WARMED:
                index_build_s += time.perf_counter() - t1
        spark.catalog.clearCache()
    wl.begin_timed()
    session["session.warm_s"] = time.perf_counter() - t0 - index_build_s
    session["session.index_build_s"] = index_build_s
    setup_s = time.perf_counter() - T_PROCESS - prep_s
    if trace:
        # one pass with the wrappers and the listener off, for trace.overhead
        base_pass_s = sum(run_op(op, 0).wall_s for op in wl.ops)
        spark.catalog.clearCache()
        spark.streams.addListener(progress.listener())
        spans.install()

    # timed passes
    pass_s: list[float] = []
    cached_mb: list[float] = []
    while sum(pass_s) < args.seconds:
        p = len(pass_s) + 1
        pass_s.append(sum(run_op(op, p).wall_s for op in wl.ops))
        if trace:
            infos = sc._jsc.sc().getRDDStorageInfo()
            cached_mb.append(sum(i.memSize() + i.diskSize() for i in infos) / MB)
        spark.catalog.clearCache()
    jiffies1 = bench._cpu_jiffies()
    steal = 100.0 * (jiffies1[1] - jiffies0[1]) / max(1, jiffies1[0] - jiffies0[0])
    peak_rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(sc._jvm.java.lang.ProcessHandle.current().pid())
    stop_jvm(spark)

    timed = [r for r in results if r.pass_no > 0]
    failed = sum(1 for r in results if not r.ok)
    per_op: dict[str, list[float]] = defaultdict(list)
    for r in timed:
        per_op[r.op].append(r.wall_s)
    walls = [r.wall_s for r in timed]
    end_to_end = {
        "setup_s": setup_s,
        "pass_s": statistics.median(pass_s),
        "op_geomean_s": math.exp(statistics.fmean(math.log(statistics.median(ws)) for ws in per_op.values())),
        "op_p50_s": statistics.median(walls),
    }
    tail = op_tail(walls)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "passes": len(pass_s),
        "pass_s_all": pass_s,
        "op_medians_s": {op: statistics.median(ws) for op, ws in per_op.items()},
        "op_tail_s": {"percentile": tail[0], "value": tail[1], "samples": len(walls)} if tail else {"omitted": f"{len(walls)} samples, fewer than 11"},
        "error_rate": failed / len(results),
        "steal_pct": steal,
        "peak_rss_mb": peak_rss,
        "errors": [f"{r.op} pass {r.pass_no}: {r.error}" for r in results if not r.ok],
    }
    metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in end_to_end.items()}
    if trace:
        layer = layer_metrics(args, wl, results, spans, progress, run_dir / "eventlog", cached_mb, session)
        layer["host.steal_pct"] = steal
        layer["host.peak_rss_mb"] = peak_rss
        layer["trace.overhead"] = end_to_end["pass_s"] / base_pass_s
        report["per_op_layers"] = layer.pop("_per_op")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    shutil.rmtree(run_dir, ignore_errors=True)
    return {"correct": failed == 0, "attempted": len(results), "failed": failed, "metrics": metrics, "_report": report}


def layer_metrics(args, wl, results, spans, progress, log_dir, cached_mb, session) -> dict:
    """Per-layer figures per op, summed per pass, then the median over passes."""
    import layers as T

    timed = [r for r in results if r.pass_no > 0]
    windows = [(f"{args.workload}:{r.op}:{r.pass_no}", r.t0_ms, r.t1_ms, r.tb_ms) for r in timed]
    spark_m = T.reduce_event_log(T.event_log_files(str(log_dir)), windows)
    stream_m = progress.per_op(windows)
    per_op: dict[str, dict[str, float]] = {}
    for r, (key, *_) in zip(timed, windows):
        calls, secs = spans.calls.get(key, {}), spans.secs.get(key, {})
        m = {**spark_m[key], **stream_m[key]}
        m["queries.build_s"] = r.build_s if isinstance(wl, W.QueryWorkload) else 0.0
        m["queries.collect_s"] = r.wall_s - r.build_s if isinstance(wl, W.QueryWorkload) else 0.0
        m["plans.run_pipeline_s"] = secs.get("plans", 0.0)
        m["sources.manifest_s"] = secs.get("sources.manifest", 0.0)
        m["sources.write_s"] = secs.get("sources.write", 0.0)
        m["sources.write_mb"] = wl.write_bytes / MB if isinstance(wl, W.CpcRefreshWorkload) else 0.0
        for mod in T.OPERATOR_MODULES:
            m[f"operators.{mod}.calls"] = calls.get(f"operators.{mod}", 0)
            m[f"operators.{mod}.s"] = secs.get(f"operators.{mod}", 0.0)
        m["operators.iterutils.checkpoints"] = calls.get("operators.iterutils.checkpoints", 0)
        m["operators.index_store.write_s"] = secs.get("operators.index_store.write", 0.0)
        m["operators.index_store.read_s"] = secs.get("operators.index_store.read", 0.0)
        per_op[key] = m

    by_pass: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    maxed = {"streaming.state_rows", "streaming.state_mb"}
    for r, (key, *_) in zip(timed, windows):
        agg = by_pass[r.pass_no]
        for k, v in per_op[key].items():
            if k == "spark.task_success_ratio":
                agg["_ok_tasks"] += v * per_op[key]["spark.tasks"]
            elif k in maxed:
                agg[k] = max(agg[k], v)
            else:
                agg[k] += v
    for p, agg in by_pass.items():
        agg["spark.task_success_ratio"] = agg.pop("_ok_tasks", 0.0) / agg["spark.tasks"] if agg["spark.tasks"] else 1.0
        agg["streaming.nonempty_batch_ratio"] = (
            (agg["streaming.batches"] - agg["streaming.empty_batches"]) / agg["streaming.batches"] if agg["streaming.batches"] else 0.0
        )
        agg["sources.write_per_input"] = agg["sources.write_mb"] * MB / wl.input_bytes if wl.input_bytes else 0.0
        agg["storage.cached_mb"] = cached_mb[p - 1]
    keys = set().union(*by_pass.values())
    out = {k: statistics.median(agg.get(k, 0.0) for agg in by_pass.values()) for k in keys}
    out.update(session)
    out["_per_op"] = per_op
    return out


def print_report(result: dict) -> None:
    rep = result["_report"]
    log(f"== {rep['workload']} (seed {rep['seed']}): {rep['passes']} timed passes, "
        f"{result['attempted']} ops attempted, {result['failed']} failed, error_rate {rep['error_rate']:.4f} fraction")
    for name, m in result["metrics"].items():
        log(f"   {name:34s} {m['value']:.6g} {m['unit']}")
    tail = rep["op_tail_s"]
    if "omitted" in tail:
        log(f"   op_tail_s omitted: {tail['omitted']}")
    else:
        log(f"   op_tail_s (p{tail['percentile']} of {tail['samples']} samples) {tail['value']:.6g} s")
    log(f"   peak_rss_mb (VmHWM of driver + JVM) {rep['peak_rss_mb']:.1f} MB; host CPU steal {rep['steal_pct']:.2f}%")
    for op, s in rep["op_medians_s"].items():
        log(f"   op {op:32s} median {s:.4f} s")
    if "per_op_layers" in rep:
        log("   functions/ (parsing, validation, hashing, text, vectors) only builds Column expressions; its cost is"
            " inside spark.executor_cpu_s of the ops that use it and is not split out here.")
    for err in rep["errors"]:
        log(f"   error: {err}")
    (WORK / f"last-{rep['workload']}-trace{int('per_op_layers' in rep)}.json").write_text(json.dumps(result, indent=1, default=str))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*W.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sources = ("etl_cpc_schema_spark/__init__.py", "bench.py", "__spark_entry__.py", "tools/drive_contract.py")
    if not all((ROOT / f).is_file() for f in sources):
        fail(f"no package source under {ROOT}; run from the root of a checkout")
    args.sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or default_sf_dir()
    if not Path(args.sf_dir, "lineitem.parquet").is_file():
        fail(f"no input tables in {args.sf_dir} (set SPARK_GRAFT_SF_DIR)")
    if args.workload == "all":
        for name in W.WORKLOADS:
            print(json.dumps({"workload": name, **run_child(args, name, args.trace)}), flush=True)
        return 0
    result = run_workload(args)
    print_report(result)
    result.pop("_report")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
