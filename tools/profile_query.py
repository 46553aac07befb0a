"""Per-query job-group profile: the jobs, stages, tasks, shuffle and spill
of plan building and of execution, read from the Spark event log.

Each pass of each query runs under two job groups, as in
perfbench/workloads.py: ``build:passN:<query>`` while the registry
function builds the plan (including any eager jobs it runs) and
``exec:passN:<query>`` while ``collect()`` runs it. The event log is
summarized by ``perfbench.layers.parse_event_log``. Pass numbers run on
across queries, so each ``(phase, passN)`` row belongs to one query. The
first pass in a fresh JVM also pays class loading and JIT warm-up.

Usage:
  python tools/profile_query.py QUERY [QUERY ...] [--sf DIR] [--passes N]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COLUMNS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=2)
    args = ap.parse_args()

    from autonomous_orchestrator_ai_spark.plans import registry
    from autonomous_orchestrator_ai_spark.session import get_spark, release_session_storage
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
    runs = []  # (query, op, build seconds, exec seconds)
    for name in args.queries:
        for _ in range(args.passes):
            op = f"pass{len(runs)}"
            t0 = time.perf_counter()
            sc.setJobGroup(f"build:{op}:{name}", name)
            df = registry.QUERIES[name](spark, args.sf)
            t1 = time.perf_counter()
            sc.setJobGroup(f"exec:{op}:{name}", name)
            df.collect()
            runs.append((name, op, t1 - t0, time.perf_counter() - t1))
            release_session_storage(spark)
    app_id = sc.applicationId
    spark.stop()

    phases = parse_event_log(eventdir / app_id)["phases"]
    shutil.rmtree(eventdir)
    print(f"{'group':<48} {'wall_s':>8} " + " ".join(COLUMNS))
    for name, op, *walls in runs:
        for phase, wall in zip(("build", "exec"), walls):
            c = phases[(phase, op)]
            group = f"{phase}:{op}:{name}"
            print(f"{group:<48} {wall:8.3f} " + " ".join(f"{c[k]:>{len(k)}}" for k in COLUMNS))


if __name__ == "__main__":
    main()
