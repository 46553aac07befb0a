"""Per-query job-group profile: the jobs, stages, tasks, shuffle and spill
of plan building and of execution, read from the Spark event log.

A pass runs each query given once, in the order given, as one
``query_suite`` op of perfbench/workloads.py does, so the queries of a
pass compete for the same caches as they do there. Query I of pass P runs
under two job groups: ``build:passP.I:<query>`` while the registry
function builds the plan (including any eager jobs it runs) and
``exec:passP.I:<query>`` while ``collect()`` runs it. The event log is
summarized by ``perfbench.layers.parse_event_log``. The first pass in a
fresh JVM also pays class loading and JIT warm-up.

``compiles`` and ``compile_ms`` are the generated classes Janino compiled
during the phase (codegen cache misses) and their compile time, from
``session.codegen_compiles`` before and after it. A steady pass of a query
whose classes stay cached compiles none.

``py_driver_s``, ``jvm_s`` and ``py_workers_s`` split the CPU seconds of
the phase by process: this Python driver, the JVM it launched, and the
JVM's Python workers (daemons and the workers they fork). They are read
from ``/proc/<pid>/stat`` (user + system, reaped children included, the
count ``perfbench.layers.tree_cpu_seconds`` sums), so a change at the
Arrow/Python boundary shows in the process that moved. A session whose
JVM this tool did not launch (a gateway attached through
``PYSPARK_GATEWAY_PORT``) prints no CPU columns.

Under each build group, one ``route`` line per route record the plan
build emitted (``autonomous_orchestrator_ai_spark.routes``): the cost
route's name, what it chose, its estimate and its budget.

Usage:
  python tools/profile_query.py QUERY [QUERY ...] [--sf DIR] [--passes N]
"""

from __future__ import annotations

import argparse
import logging
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COLUMNS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
CPU_COLUMNS = ("py_driver_s", "jvm_s", "py_workers_s")


def cpu_split(jvm: int) -> tuple[float, float, float]:
    """CPU seconds of this Python driver, of its JVM (pid ``jvm``) and of
    the processes below the JVM: its Python workers, and through the JVM's
    reaped children the workers that have exited."""
    from perfbench.layers import tree_cpu_seconds

    f = Path(f"/proc/{jvm}/stat").read_text().rsplit(")", 1)[1].split()
    jvm_own = (int(f[11]) + int(f[12])) / os.sysconf("SC_CLK_TCK")
    jvm_tree = tree_cpu_seconds(jvm)
    return (
        tree_cpu_seconds(os.getpid()) - jvm_tree,
        jvm_own,
        jvm_tree - jvm_own,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=2)
    args = ap.parse_args()

    from autonomous_orchestrator_ai_spark.plans import registry
    from autonomous_orchestrator_ai_spark.routes import LOGGER
    from autonomous_orchestrator_ai_spark.session import (
        codegen_compiles,
        get_spark,
        release_session_storage,
    )
    from perfbench.layers import parse_event_log

    eventdir = Path(tempfile.mkdtemp(prefix="profile-events-"))
    spark = get_spark(
        "profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventdir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    registry.load_all()
    sc = spark.sparkContext
    # spark-submit execs into the JVM; a gateway attached through
    # PYSPARK_GATEWAY_PORT has no child process to read, so no CPU columns
    # (vars(): py4j answers any missing gateway attribute with a JavaMember)
    proc = vars(sc._gateway).get("proc")
    cpu_columns = CPU_COLUMNS if proc else ()
    records: list[logging.LogRecord] = []
    handler = logging.Handler()
    handler.emit = records.append
    LOGGER.addHandler(handler)
    LOGGER.setLevel(logging.INFO)

    def mark() -> tuple:
        cpu = cpu_split(proc.pid) if proc else ()
        return (time.perf_counter(), *codegen_compiles(spark), *cpu)

    def delta(a, b) -> list:
        return [y - x for x, y in zip(a, b)]

    # (query, op, routes, build, exec): each phase (seconds, compiles,
    # compile ms, then the cpu_columns seconds)
    runs = []
    for p in range(args.passes):
        for i, name in enumerate(args.queries):
            op = f"pass{p}.{i}"
            m0 = mark()
            sc.setJobGroup(f"build:{op}:{name}", name)
            records.clear()
            df = registry.QUERIES[name](spark, args.sf)
            routes = [r.getMessage() for r in records]
            m1 = mark()
            sc.setJobGroup(f"exec:{op}:{name}", name)
            df.collect()
            m2 = mark()
            runs.append((name, op, routes, delta(m0, m1), delta(m1, m2)))
            release_session_storage(spark)
    app_id = sc.applicationId
    spark.stop()

    phases = parse_event_log(eventdir / app_id)["phases"]
    shutil.rmtree(eventdir)
    print(
        f"{'group':<48} {'wall_s':>8} "
        + " ".join((*COLUMNS, "compiles", "compile_ms", *cpu_columns))
    )
    for name, op, routes, *measured in runs:
        for phase, (wall, compiles, compile_ms, *cpu) in zip(("build", "exec"), measured):
            c = phases[(phase, op)]
            group = f"{phase}:{op}:{name}"
            print(
                f"{group:<48} {wall:8.3f} "
                + " ".join(f"{c[k]:>{len(k)}}" for k in COLUMNS)
                + f" {compiles:>8} {compile_ms:>10.1f} "
                + " ".join(f"{v:>{len(k)}.2f}" for k, v in zip(CPU_COLUMNS, cpu))
            )
            if phase == "build":
                for msg in routes:
                    print(f"  {msg}")


if __name__ == "__main__":
    main()
