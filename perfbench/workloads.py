"""The benchmark's workloads and the closed loops that drive them.

Each workload is one client in a closed loop: the next operation starts
when the previous one ends. An operation is one pass over the workload's
queries (each built with ``registry.QUERIES[q](spark, data_dir)`` and then
``collect()``ed, since that is the result a caller gets) or one pipeline
tick (``pipeline_driver.run_pipeline_once``).

Why these workloads:

- ``query_suite``: the query library over the curated data. It holds two
  groups of queries. In the ``iterative`` group plan construction runs most
  of the work (a job and a checkpoint per BPE merge round); in
  the ``analytic`` group execution does (the Arrow/Python boundary of the
  PQ top-k, the shuffle of the KMV sketch Jaccard). The
  traced run reports each group's time and plan-build share, so a change
  to how plans are built shows on the first group and not the second.
- ``pipeline_ticks``: back-to-back incremental ticks over one work
  directory. The only workload that reads a stream and writes (partitioned
  sink, checkpoints, ops JSON, incidents), and it builds no registry query;
  the curated history grows each tick, and the seeded scenario trips remap,
  notify and escalation, so the ``agent`` and ``incidents`` paths run every
  tick.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from datetime import datetime, timedelta
from pathlib import Path

from digests import digest
from layers import Spans, StageWrappers, tree_cpu_seconds


@dataclass(frozen=True)
class Scale:
    data: str  # directory under perfbench/data
    tick_events: int
    warmup_ops: int  # first ops of a run, checked but not timed
    min_passes: int  # timed query passes, however short --seconds is
    min_ticks: int  # the same for ticks, which vary more from op to op


SCALES = {
    # the first op in a fresh JVM mostly compiles (JIT, generated code);
    # later ops are what a long-lived session pays
    "bench": Scale(data="sf0.01", tick_events=10_000, warmup_ops=1, min_passes=3, min_ticks=4),
    # the harness self-test: seconds, not minutes
    "tiny": Scale(data="sf0.001", tick_events=2_000, warmup_ops=0, min_passes=1, min_ticks=1),
}

#: Roughly one query pass or one tick at bench scale on a 4-core host. A
#: run times ``ceil(--seconds / OP_S)`` ops (at least the scale's minimum),
#: a count fixed by --seconds: the ops keep getting cheaper as the JIT
#: warms, so a run that fitted one op more would read lower.
OP_S = 3.0

#: Few queries, so that one pass takes seconds and a run times several
#: passes. Chosen from per-query build/execute times measured at sf0.01:
#: plan building is 0.84 of the ``iterative`` query and 0.17-0.27 of each
#: ``analytic`` query.
QUERY_GROUPS = {
    "iterative": ["bpe_learned_merges"],
    "analytic": ["pq_ann_topk", "kmv_token_jaccard_by_source"],
}
QUERY_SETS = {"query_suite": [q for qs in QUERY_GROUPS.values() for q in qs]}
WORKLOADS = (*QUERY_SETS, "pipeline_ticks")

#: The seeded tick scenario: 20% late (> the 0.15 escalation threshold),
#: schema drift on every 10th event, 10% missing country/plan.
SCENARIO = {"late_rate": 0.2, "missing_rate": 0.1, "drift_frequency": 10}
TICK_BASE = datetime(2024, 1, 15, 1, 0, 0)
TICK_STEP = timedelta(minutes=5)


def queries_for(workload: str, scale_name: str) -> list[str]:
    names = QUERY_SETS[workload]
    return names[:1] if scale_name == "tiny" else names


def _log_failure(what: str) -> None:
    print(f"FAILED {what}", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _start_timing(loop) -> None:
    loop.timed_start = time.monotonic()
    loop.timed_start_cpu = tree_cpu_seconds(os.getpid())


class QueryLoop:
    def __init__(self, names: list[str], data_dir: str, expected: dict, spans: Spans):
        self.names = names
        self.data_dir = data_dir
        self.expected = expected
        self.spans = spans
        self.attempted = 0
        self.failed = 0
        self.timed_start = self.timed_start_cpu = 0.0
        # op -> query -> CPU seconds of the process tree
        self.cpu_s: dict[str, dict[str, float]] = {}

    def check(self, name: str, columns: list[str], rows: list) -> bool:
        want = self.expected[name]
        if len(rows) != want["rows"]:
            return False
        return want["digest"] is None or digest(columns, rows) == want["digest"]

    def run(self, spark, warmup_ops: int, timed_ops: int, rng) -> list[str]:
        from autonomous_orchestrator_ai_spark.plans import registry
        from autonomous_orchestrator_ai_spark.session import release_session_storage

        sc = spark.sparkContext
        ops: list[str] = []
        for i in range(warmup_ops + timed_ops):
            if i == warmup_ops:
                _start_timing(self)
            op = f"pass{i}"
            ops.append(op)
            self.cpu_s[op] = {}
            with self.spans.span("suite", op):
                for name in rng.sample(self.names, len(self.names)):
                    self.attempted += 1
                    cpu0 = tree_cpu_seconds(os.getpid())
                    try:
                        with self.spans.span(f"query:{name}", op):
                            sc.setJobGroup(f"build:{op}:{name}", name)
                            with self.spans.span("plans.build", op):
                                df = registry.QUERIES[name](spark, self.data_dir)
                            sc.setJobGroup(f"exec:{op}:{name}", name)
                            with self.spans.span("exec", op):
                                rows = df.collect()
                        if not self.check(name, df.columns, rows):
                            print(f"FAILED {op} {name}: result mismatch", file=sys.stderr)
                            self.failed += 1
                    except Exception:
                        _log_failure(f"{op} {name}")
                        self.failed += 1
                    finally:
                        release_session_storage(spark)
                        self.cpu_s[op][name] = tree_cpu_seconds(os.getpid()) - cpu0
        sc.setJobGroup("idle:", "")
        return ops

    def _seconds(self, span: str, name: str, op: str) -> float:
        """Time ``op`` spent in ``span`` while running query ``name``."""
        recs = self.spans.records
        return sum(
            r["end"] - r["start"] for r in recs
            if r["name"] == span and r["op"] == op
            and (span == f"query:{name}" or recs[r["parent"]]["name"] == f"query:{name}")
        )

    def suite_seconds(self, ops: list[str], names: list[str] | None = None, span: str | None = None) -> float:
        """One pass over ``names`` (default: all queries): each query's
        median over ``ops``, summed, so one slow pass of one query does not
        move it. ``span`` narrows it to one phase (plans.build, exec)."""
        return sum(
            statistics.median(self._seconds(span or f"query:{name}", name, op) for op in ops)
            for name in (names or self.names)
        )

    def op_cpu_seconds(self, ops: list[str]) -> float:
        """CPU seconds of one pass, per-query medians summed as for time."""
        return sum(statistics.median(self.cpu_s[op][name] for op in ops) for name in self.names)


def make_tick_inputs(root: Path, seed: int, n_files: int, n_events: int) -> list[Path]:
    """Generate each tick's JSONL file up front with one seeded generator."""
    from autonomous_orchestrator_ai_spark.testing.generator import EventGenerator

    gen = EventGenerator(seed=seed, n_customers=5000, now=TICK_BASE, **SCENARIO)
    staged = root / "staged"
    staged.mkdir(parents=True)
    files = []
    for i in range(n_files):
        gen.now = TICK_BASE + i * TICK_STEP
        files.append(gen.write_jsonl(staged / f"tick{i:03d}.jsonl", n_events))
    return files


def count_parquet(path: Path) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, filenames in os.walk(path):
        for f in filenames:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def stage_targets() -> dict[str, tuple[object, str]]:
    """The stage calls a tick makes, patched where ``run_pipeline_once``
    looks them up."""
    from autonomous_orchestrator_ai_spark import pipeline_driver as pd
    from autonomous_orchestrator_ai_spark.agent.tools import PipelineTools
    from autonomous_orchestrator_ai_spark.operators.incidents import IncidentStore

    return {
        "streaming.ingest": (pd, "run_bounded"),
        "dq.run_suite": (pd, "run_suite"),
        "agent.rule_based_decision": (pd, "rule_based_decision"),
        "agent.log_decision": (pd, "log_decision"),
        "agent.execute_actions": (PipelineTools, "execute_actions"),
        "incidents.recent": (IncidentStore, "recent"),
        "incidents.log_incident": (IncidentStore, "log_incident"),
    }


class TickLoop:
    def __init__(self, files: list[Path], work: Path, n_events: int, spans: Spans, listener=None):
        self.files = files
        self.work = work
        self.n_events = n_events
        self.spans = spans
        self.listener = listener
        self.attempted = 0
        self.failed = 0
        self.timed_start = self.timed_start_cpu = 0.0
        self.cpu_s: dict[str, float] = {}  # op -> CPU seconds of the process tree
        self.per_tick: dict[str, dict] = {}

    def op_cpu_seconds(self, ops: list[str]) -> float:
        done = [self.cpu_s[op] for op in ops if op in self.cpu_s]  # a failed tick has none
        return statistics.median(done) if done else 0.0

    def check(self, result: dict, cumulative: int) -> list[str]:
        """What tools/pipeline_tick_sf1.py checks, plus the curated total."""
        rr = result["run_report"]
        decision = result["decision"]
        tools = [a["tool"] for a in decision["actions_taken"]]
        bad = []
        if rr["total_records"] != self.n_events:
            bad.append(f"total_records={rr['total_records']}")
        if rr.get("quality_scored_records") != self.n_events:
            bad.append(f"quality_scored_records={rr.get('quality_scored_records')}")
        if rr["schema_drift_count"] != self.n_events // SCENARIO["drift_frequency"]:
            bad.append(f"schema_drift_count={rr['schema_drift_count']}")
        if not rr["late_rate"] > 0.15:
            bad.append(f"late_rate={rr['late_rate']}")
        if not decision["escalation_required"] or "apply_schema_remap" not in tools:
            bad.append(f"decision={tools} escalation={decision['escalation_required']}")
        if not all(a["result"]["success"] for a in result["actions_executed"]):
            bad.append("an action failed")
        if result["validation"]["rows_in_curated"] != cumulative:
            bad.append(f"rows_in_curated={result['validation']['rows_in_curated']}")
        return bad

    def run(self, spark, warmup_ops: int, qweights: dict) -> list[str]:
        from autonomous_orchestrator_ai_spark.pipeline_driver import run_pipeline_once

        sc = spark.sparkContext
        inbox = self.work / "in"
        inbox.mkdir(parents=True)
        ops: list[str] = []
        cumulative = 0
        files_before = bytes_before = 0
        with StageWrappers(self.spans, stage_targets()) as stages:
            for i, staged in enumerate(self.files):
                if i == warmup_ops:
                    _start_timing(self)
                op = f"tick{i}"
                ops.append(op)
                stages.op = op
                if self.listener is not None:
                    self.listener.op = op
                os.rename(staged, inbox / staged.name)  # atomic move-in
                cumulative += self.n_events
                self.attempted += 1
                sc.setJobGroup(f"tick:{op}", op)
                cpu0 = tree_cpu_seconds(os.getpid())
                try:
                    with self.spans.span("tick", op):
                        result = run_pipeline_once(
                            spark, str(inbox), str(self.work / "pipeline"),
                            now=TICK_BASE + i * TICK_STEP, quality_weights=qweights,
                        )
                    self.cpu_s[op] = tree_cpu_seconds(os.getpid()) - cpu0
                    bad = self.check(result, cumulative)
                except Exception:
                    _log_failure(op)
                    self.failed += 1
                    continue
                finally:
                    sc.setJobGroup("idle:", "")
                if bad:
                    print(f"FAILED {op}: {'; '.join(bad)}", file=sys.stderr)
                    self.failed += 1
                stages.require_each_once(op)
                if self.listener is not None:
                    self.listener.drain()
                files, size = count_parquet(self.work / "pipeline" / "curated")
                suite = stages.results["dq.run_suite"]
                self.per_tick[op] = {
                    "sink_files": files - files_before,
                    "sink_bytes": size - bytes_before,
                    "curated_files": files,
                    "rows_evaluated": max(
                        r["result"]["element_count"]
                        for v in suite["validations"] for r in v["results"]
                    ),
                    "actions": len(result["actions_executed"]),
                }
                files_before, bytes_before = files, size
        return ops
