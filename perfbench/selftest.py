"""Self-test of the benchmark harness at tiny scale.

Runs every workload once untraced and once traced (with the untraced run
as its baseline) in one process, on the
sf0.001 data and 2k-event ticks, and checks that:

- every metric ``BENCHMARK.json`` names is printed with its unit, and no
  operation fails;
- a corrupted reference digest is counted as a failed operation.

Run from the repository root; exits 0 when every check holds::

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def check_result(out: dict, units: dict[str, str]) -> list[str]:
    problems = []
    if list(out["metrics"]) != list(units):
        problems.append(f"metric names differ: {sorted(set(units) ^ set(out['metrics']))}")
    for name, m in out["metrics"].items():
        if m["unit"] != units.get(name):
            problems.append(f"{name}: unit {m['unit']!r}, declared {units.get(name)!r}")
        if not math.isfinite(m["value"]):
            problems.append(f"{name}: value {m['value']}")
    if out["attempted"] < 1:
        problems.append("nothing attempted")
    return problems


def main() -> int:
    sys.path.insert(0, str(HERE))
    import run as bench
    from layers import tree_cpu_seconds
    from workloads import SCALES, WORKLOADS, queries_for

    def now() -> tuple[float, float]:
        return time.monotonic(), tree_cpu_seconds(os.getpid())

    proc_dir = bench.OUT / f"selftest-{os.getpid()}"
    bench.prepare_env(proc_dir)
    problems: list[str] = []
    t0 = time.monotonic()
    try:
        for workload in WORKLOADS:
            baseline = None
            for trace in (False, True):
                res = bench.run(workload, 1, 0, trace, proc_dir, now(), baseline, "tiny")
                baseline = res["values"]
                out = bench.result_object(res, trace)
                tag = f"{workload} trace={int(trace)}"
                problems += [f"{tag}: {p}" for p in check_result(out, bench.declared_metrics(trace))]
                if out["failed"] or not out["correct"]:
                    problems.append(f"{tag}: {out['failed']} of {out['attempted']} failed")
                print(f"{tag}: {len(out['metrics'])} metrics, {out['attempted']} ops", flush=True)

        table = json.loads(bench.DIGESTS.read_text())
        tiny = table[SCALES["tiny"].data]
        name = queries_for("query_suite", "tiny")[0]
        tiny[name]["digest"] = "0" * 64
        corrupt = proc_dir / "corrupt_digests.json"
        corrupt.write_text(json.dumps(table))
        res = bench.run("query_suite", 1, 0, False, proc_dir, now(), None, "tiny", corrupt)
        if res["failed"] != res["attempted"] or bench.result_object(res, False)["correct"]:
            problems.append(f"corrupted digest of {name} not counted: {res['failed']} failed")
        else:
            print(f"corrupted digest of {name}: counted as failed", flush=True)
    finally:
        bench.stop_jvm()
        shutil.rmtree(proc_dir, ignore_errors=True)

    for p in problems:
        print("PROBLEM", p)
    print(f"selftest {'failed' if problems else 'passed'} in {time.monotonic() - t0:.0f} s")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
