"""Run one benchmark workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 10 --trace 0

The run builds nothing: it imports the package from the checkout, starts one
local SparkSession with as many cores as the process may run on, builds
the workload's fixtures and runs its warm-up ops (together, the set-up),
then times a closed loop of ops: as many as fill ``--seconds`` at a nominal
op length, and at least a few. Every result is
checked (query digests, tick invariants); mismatches count as failed.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``: CPU
seconds per op (``op_cpu_s``) and of the set-up (``setup_s``), counted over
this process, its JVM and the JVM's Python workers. On a host whose CPUs
other tenants share, wall time varies with their load and CPU time does
not; the wall times are per-layer metrics.
``--trace 1`` first runs the same workload untraced in a fresh process (the
baseline for ``trace.overhead_s``, ``op_wall_s`` and ``peak_rss_mb``), then runs it again
with Spark's event log, the Python UDF profiler and a streaming listener on,
and prints the per-layer metrics. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (name ->
value and unit). Spans and the per-job breakdown are written to
``.perfbench_out/`` under the checkout.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import Counter  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench_out"
DIGESTS = HERE / "digests.json"
#: A fixed driver heap keeps memory use and peak RSS independent of the host.
DRIVER_MEMORY = "4g"
#: The untraced baseline of a traced run (about 40-60 s) must end in time
#: for the traced half to finish within the run's 180 s too.
BASELINE_TIMEOUT_S = 100


def prepare_env(proc_dir: Path) -> None:
    """Point every process this one starts at the checkout: Python workers
    import the package from it, and Spark, the JVM and Python keep their
    scratch files in ``proc_dir``. Must run before the JVM starts."""
    tmp = proc_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    tempfile.tempdir = None
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_session(run_dir: Path, cores: int, conf: dict, workload: str):
    """Session and fixtures, the set-up before the warm-up ops. Returns the
    session, the classifier weights the ticks embed (or None) and the
    phase timings."""
    from autonomous_orchestrator_ai_spark.operators.classify import (
        TRAIN_BUCKETS,
        frozen_weight_table,
        weight_table_as_dict,
    )
    from autonomous_orchestrator_ai_spark.plans import registry
    from autonomous_orchestrator_ai_spark.session import get_spark

    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(run_dir / "warehouse")
    t0 = time.monotonic()
    spark = get_spark("perfbench", cpus=cores, extra_conf=conf)
    t1 = time.monotonic()
    qweights = None
    if workload == "pipeline_ticks":
        qweights = weight_table_as_dict(frozen_weight_table(spark, TRAIN_BUCKETS))
    else:
        registry.load_all()
    t2 = time.monotonic()
    return spark, qweights, {"start": t1 - t0, "fixtures": t2 - t1}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool, proc_dir: Path,
        started: tuple[float, float], baseline: dict | None = None,
        scale_name: str = "bench", digests_path: Path = DIGESTS) -> dict:
    """Run one workload in this process and return its counts and metric
    values. ``prepare_env(proc_dir)`` must have run; ``started`` is the
    monotonic time and process-tree CPU seconds when set-up began (process
    start and 0.0 for a fresh process). A traced run needs
    the ``values`` of an untraced run of the same workload as ``baseline``.
    ``scale_name`` and ``digests_path`` exist for the self-test."""
    from layers import (
        ProgressSums,
        Spans,
        jvm_peak_rss_mib,
        parse_event_log,
        tree_cpu_seconds,
        udf_profile_seconds,
        unattributed_jobs,
    )
    from workloads import OP_S, SCALES, QueryLoop, TickLoop, make_tick_inputs, queries_for

    if trace and baseline is None:
        raise ValueError("a traced run needs an untraced baseline")
    run_dir = proc_dir / f"{workload}-trace{int(trace)}"
    run_dir.mkdir()
    scale = SCALES[scale_name]
    cores = len(os.sched_getaffinity(0))
    data_dir = str(HERE / "data" / scale.data)
    names = [] if workload == "pipeline_ticks" else queries_for(workload, scale_name)
    spans = Spans()

    ticks = workload == "pipeline_ticks"
    timed_ops = max(scale.min_ticks if ticks else scale.min_passes, math.ceil(seconds / OP_S))
    gen_s = gen_cpu_s = 0.0
    if ticks:
        g0, c0 = time.monotonic(), tree_cpu_seconds(os.getpid())
        files = make_tick_inputs(run_dir, seed, scale.warmup_ops + timed_ops, scale.tick_events)
        gen_s, gen_cpu_s = time.monotonic() - g0, tree_cpu_seconds(os.getpid()) - c0

    conf = {"spark.sql.warehouse.dir": str(run_dir / "warehouse")}
    if trace:
        (run_dir / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark, qweights, setup = start_session(run_dir, cores, conf, workload)

    listener = None
    if trace:
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        if workload == "pipeline_ticks":
            listener = ProgressSums()
            spark.streams.addListener(listener)

    rng = random.Random(seed)
    if workload == "pipeline_ticks":
        loop = TickLoop(files, run_dir / "work", scale.tick_events, spans, listener)
        ops = loop.run(spark, scale.warmup_ops, qweights)
        timed = ops[scale.warmup_ops:]
        op_wall_s = _median([spans.total("tick", op) for op in timed])
    else:
        digests = json.loads(digests_path.read_text())[scale.data]
        loop = QueryLoop(names, data_dir, digests, spans)
        ops = loop.run(spark, scale.warmup_ops, timed_ops, rng)
        timed = ops[scale.warmup_ops:]
        op_wall_s = loop.suite_seconds(timed)
    # set-up ends where timing starts: session, fixtures and warm-up ops
    # (the first ops in a fresh JVM mostly load classes, JIT-compile and
    # fork Python workers); generating tick events is the load generator's
    # work, not the system's. Like op_cpu_s, setup_s counts CPU seconds:
    # wall set-up time moved by 20-40% with the load other tenants put on
    # the host, CPU time does not
    setup["warmup"] = sum(spans.total(k, op) for op in ops[:scale.warmup_ops] for k in ("suite", "tick"))
    setup["wall"] = loop.timed_start - started[0] - gen_s
    setup_s = loop.timed_start_cpu - started[1] - gen_cpu_s

    udf_s = udf_profile_seconds(spark) if trace else 0.0
    rss = jvm_peak_rss_mib(spark)
    app_id = spark.sparkContext.applicationId
    if listener is not None:
        spark.streams.removeListener(listener)
    spark.stop()

    values = {
        "op_cpu_s": loop.op_cpu_seconds(timed),
        "setup_s": setup_s,
        "op_wall_s": op_wall_s,
        "peak_rss_mb": rss,
        "ops_failed": loop.failed / max(1, loop.attempted),
    }
    extra = {}
    if trace:
        values.update(_layer_values(
            workload, timed, spans, loop, cores, udf_s / len(ops),
            parse_event_log(run_dir / "eventlog" / app_id), listener, setup,
        ))
        values["trace.overhead_s"] = op_wall_s - baseline["op_wall_s"]
        values["op_wall_s"] = baseline["op_wall_s"]
        values["peak_rss_mb"] = baseline["peak_rss_mb"]
        extra = {
            "traced_peak_rss_mb": rss,
            "unattributed_jobs": unattributed_jobs(values.pop("_jobs"), spans, "tick")
            if workload == "pipeline_ticks" else {},
            "jobs_by_group": values.pop("_jobs_by_group"),
        }

    (OUT / f"spans-{workload}-trace{int(trace)}.json").write_text(json.dumps({
        "pid": os.getpid(), "workload": workload, "seed": seed, "cores": cores,
        "ops": ops, "setup": setup, "values": values, "spans": spans.records,
        "cpu_s": loop.cpu_s, "per_tick": getattr(loop, "per_tick", {}), **extra,
    }, indent=1))
    shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "cores": cores,
        "ops": len(ops),
        "attempted": loop.attempted,
        "failed": loop.failed,
        "values": values,
    }


def _layer_values(workload, ops, spans, loop, cores, udf_s_per_op, log, listener, setup) -> dict:
    """Per-layer values of the timed ops ``ops``: times are medians over
    them, counts are means per op. The UDF profiler cannot tell ops apart,
    so its figure is the run's total over all ops, warm-up included."""
    from workloads import QUERY_GROUPS

    n = max(1, len(ops))
    per_op = lambda name: _median([spans.total(name, op) for op in ops])  # noqa: E731
    build, exe = Counter(), Counter()
    for op in ops:
        build.update(log["phases"].get(("build", op), {}))
        exe.update(log["phases"].get(("exec", op), {}))
    build_s, exec_s = per_op("plans.build"), per_op("exec")
    v = {}
    for group, names in QUERY_GROUPS.items():
        queries = workload != "pipeline_ticks" and set(names) <= set(loop.names)
        suite = loop.suite_seconds(ops, names) if queries else 0.0
        v[f"suite.{group}_s"] = suite
        v[f"plans.build_share.{group}"] = (
            loop.suite_seconds(ops, names, "plans.build") / suite if suite else 0.0
        )
    v.update({
        "session.setup_wall_s": setup["wall"],
        "session.start_s": setup["start"],
        "session.fixtures_s": setup["fixtures"],
        "session.warmup_s": setup["warmup"],
        "plans.build_s": build_s,
        "plans.build_jobs": build.get("jobs", 0) / n,
        "plans.build_tasks": build.get("tasks", 0) / n,
        "plans.build_share": build_s / (build_s + exec_s) if build_s + exec_s else 0.0,
        "exec.s": exec_s,
        "exec.jobs": exe.get("jobs", 0) / n,
        "exec.stages": exe.get("stages", 0) / n,
        "exec.tasks": exe.get("tasks", 0) / n,
        "exec.shuffle_write_bytes": exe.get("shuffle_write_bytes", 0) / n,
        "exec.shuffle_read_bytes": exe.get("shuffle_read_bytes", 0) / n,
        "exec.spill_bytes": exe.get("spill_bytes", 0) / n,
        "exec.input_bytes": exe.get("input_bytes", 0) / n,
        "exec.task_run_s": exe.get("task_run_ms", 0) / 1e3 / n,
        "exec.task_cpu_s": exe.get("task_cpu_ns", 0) / 1e9 / n,
        "exec.gc_s": exe.get("gc_ms", 0) / 1e3 / n,
        "exec.core_busy_share": exe.get("task_run_ms", 0) / 1e3 / n / (exec_s * cores) if exec_s else 0.0,
        "exec.failed_tasks": float(exe.get("failed_tasks", 0)),
        "python.udf_s": udf_s_per_op,
    })
    ticks = workload == "pipeline_ticks"
    stage_names = (
        "streaming.ingest", "dq.run_suite", "agent.rule_based_decision",
        "agent.log_decision", "agent.execute_actions", "incidents.recent",
        "incidents.log_incident",
    )
    per_tick = loop.per_tick if ticks else {}
    done = [op for op in ops if op in per_tick]
    nt = max(1, len(done))
    progress = listener.by_op if listener is not None else {}
    tick_s = per_op("tick")
    v.update({
        "streaming.ingest_s": per_op("streaming.ingest"),
        "dq.run_suite_s": per_op("dq.run_suite"),
        "dq.rows_evaluated": sum(per_tick[op]["rows_evaluated"] for op in done) / nt,
        "agent.decide_s": _median([
            spans.total("agent.rule_based_decision", op) + spans.total("agent.log_decision", op)
            for op in ops
        ]) if ticks else 0.0,
        "agent.actions_s": per_op("agent.execute_actions"),
        "agent.actions": sum(per_tick[op]["actions"] for op in done) / nt,
        "incidents.s": _median([
            spans.total("incidents.recent", op) + spans.total("incidents.log_incident", op)
            for op in ops
        ]) if ticks else 0.0,
        "sources.sink_files": sum(per_tick[op]["sink_files"] for op in done) / nt,
        "sources.sink_bytes": sum(per_tick[op]["sink_bytes"] for op in done) / nt,
        "sources.curated_files_total": float(per_tick[done[-1]]["curated_files"]) if done else 0.0,
        "tick.unattributed_s": _median([
            spans.total("tick", op) - sum(spans.total(s, op) for s in stage_names)
            for op in ops
        ]) if ticks else 0.0,
        "tick.events_per_s": loop.n_events / tick_s if ticks and tick_s else 0.0,
        "_jobs": log["jobs"],
        "_jobs_by_group": dict(log["jobs_by_group"]),
    })
    for key in ("batches", "input_rows", "addBatch_ms", "getBatch_ms",
                "latestOffset_ms", "queryPlanning_ms", "walCommit_ms"):
        v[f"streaming.{key}"] = _median([progress.get(op, {}).get(key, 0) for op in done])
    return v


def untraced_baseline(workload: str, seed: int, seconds: float) -> dict:
    """Run the workload untraced in a fresh process and return its values."""
    child = subprocess.Popen(
        [sys.executable, str(Path(__file__).resolve()), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True,
    )
    try:
        out, _ = child.communicate(timeout=BASELINE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        child.kill()
        child.wait()
        raise
    if child.returncode != 0:
        raise RuntimeError(f"untraced baseline failed (exit {child.returncode}):\n{out}")
    record = json.loads((OUT / f"spans-{workload}-trace0.json").read_text())
    if record["pid"] != child.pid:
        raise RuntimeError("untraced baseline wrote no record")
    return record["values"]


def stop_jvm() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=60)


def declared_metrics(trace: bool) -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def result_object(res: dict, trace: bool) -> dict:
    """The contract's last line, with exactly the declared metrics."""
    units = declared_metrics(trace)
    missing = set(units) - set(res["values"])
    if missing:
        raise RuntimeError(f"metrics not computed: {sorted(missing)}")
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            name: {"value": float(res["values"][name]), "unit": unit}
            for name, unit in units.items()
        },
    }


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    OUT.mkdir(exist_ok=True)
    started, baseline = (PROCESS_START, 0.0), None
    if trace:
        from layers import tree_cpu_seconds

        baseline = untraced_baseline(args.workload, args.seed, args.seconds)
        # the baseline's CPU is reaped into this process's
        started = (time.monotonic(), tree_cpu_seconds(os.getpid()))
    proc_dir = OUT / f"proc-{os.getpid()}"
    prepare_env(proc_dir)
    try:
        res = run(args.workload, args.seed, args.seconds, trace, proc_dir, started, baseline)
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        shutil.rmtree(proc_dir, ignore_errors=True)
    out = result_object(res, trace)
    print(f"# workload={args.workload} seed={args.seed} cores={res['cores']} "
          f"ops={res['ops']} attempted={res['attempted']} failed={res['failed']}")
    for name, m in out["metrics"].items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    raise SystemExit(main())
