"""Outside-in layer measurement: spans around calls into the package,
stage wrappers that must fire, a streaming progress listener, the Spark
event-log parser and the Python UDF profile total.

Nothing here edits the package: spans are recorded around its public
functions, and Spark's own event log and listeners supply the rest.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener


class HarnessError(RuntimeError):
    """The benchmark cannot measure what it promises (a layer went dark)."""


class Spans:
    """In-memory spans: name, start, end, parent, op id. Written at the end."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str):
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def total(self, name: str, op: str) -> float:
        return sum(
            r["end"] - r["start"]
            for r in self.records
            if r["name"] == name and r["op"] == op
        )

    def count(self, name: str, op: str) -> int:
        return sum(1 for r in self.records if r["name"] == name and r["op"] == op)


class StageWrappers:
    """Wrap named attributes of package modules/classes in spans.

    ``targets`` maps a span name to ``(owner, attribute)``. Patching the
    name ``pipeline_driver`` actually calls makes the wrapper fire; if a
    refactor changes the import, the wrapper stops firing and
    :meth:`require_each_once` raises instead of reporting zero.
    """

    def __init__(self, spans: Spans, targets: dict[str, tuple[object, str]]):
        self.spans = spans
        self.targets = targets
        self.op = ""
        self.results: dict[str, object] = {}
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, name: str, fn):
        def wrapped(*args, **kwargs):
            with self.spans.span(name, self.op):
                out = fn(*args, **kwargs)
            self.results[name] = out
            return out

        return wrapped

    def __enter__(self) -> "StageWrappers":
        for name, (owner, attr) in self.targets.items():
            original = getattr(owner, attr)
            self._saved.append((owner, attr, original))
            setattr(owner, attr, self._wrap(name, original))
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()

    def require_each_once(self, op: str) -> None:
        fired = {name: self.spans.count(name, op) for name in self.targets}
        wrong = {k: v for k, v in fired.items() if v != 1}
        if wrong:
            raise HarnessError(
                f"stage spans did not fire exactly once in {op}: {wrong}"
            )


class ProgressSums(StreamingQueryListener):
    """Sums each trigger's durationMs phases and input rows per op."""

    PHASES = ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit")

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.op = ""
        self.by_op: dict[str, Counter] = defaultdict(Counter)
        self.started = 0
        self.terminated = 0

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            c = self.by_op[self.op]
            c["batches"] += 1
            c["input_rows"] += int(p.numInputRows)
            for k in self.PHASES:
                c[f"{k}_ms"] += int(p.durationMs.get(k, 0))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated += 1

    def drain(self, timeout_s: float = 30.0) -> None:
        """Listener events arrive asynchronously; wait for every query that
        started to report its termination."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                if self.terminated >= self.started:
                    return
            if time.monotonic() > deadline:
                raise HarnessError("streaming listener missed a termination")
            time.sleep(0.02)


def udf_profile_seconds(spark) -> float:
    """Total time the Python UDF profiler recorded in worker functions."""
    stats = spark._profiler_collector._perf_profile_results
    return float(sum(st.total_tt for st in stats.values()))


def jvm_peak_rss_mib(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise HarnessError("VmHWM missing from /proc status")


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of process
    ``root`` and every process below it: this interpreter, the JVM it
    launched and the JVM's Python workers. Unlike wall time, it leaves out
    the time other tenants of the host hold the CPUs."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            stat = Path(f"/proc/{name}/stat").read_text()
        except OSError:  # the process exited while we looked
            continue
        f = stat[stat.rindex(")") + 2:].split()
        procs[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    total = 0
    for pid, (_, ticks) in procs.items():
        p = pid
        while p in procs and p != root:
            p = procs[p][0]
        if p == root:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


def _phase_op(group: str) -> tuple[str, str]:
    parts = group.split(":")
    return parts[0], parts[1] if len(parts) > 1 else ""


def parse_event_log(path: Path) -> dict:
    """Per job-group-prefix sums from a finished Spark event log.

    Job groups are ``<phase>:<op>[:<query>]``; the result maps each
    ``(phase, op)`` to its job, stage and task counts and task metric sums,
    counts jobs per group, and lists every job with its group, call site and
    wall interval (seconds since the epoch).
    """
    stage_group: dict[int, tuple[str, str]] = {}
    jobs: dict[int, dict] = {}
    phases: dict[tuple[str, str], Counter] = defaultdict(Counter)
    jobs_by_group: Counter = Counter()
    with path.open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                jobs[ev["Job ID"]] = {
                    "group": group,
                    "callsite": props.get("callSite.short", ""),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                }
                phases[_phase_op(group)]["jobs"] += 1
                jobs_by_group[group] += 1
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = _phase_op(
                    props.get("spark.jobGroup.id") or ""
                )
            elif kind == "SparkListenerStageCompleted":
                phases[stage_group.get(ev["Stage Info"]["Stage ID"], ("", ""))]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                c = phases[stage_group.get(ev["Stage ID"], ("", ""))]
                c["tasks"] += 1
                if ev["Task Info"].get("Failed"):
                    c["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                c["task_run_ms"] += m.get("Executor Run Time", 0)
                c["task_cpu_ns"] += m.get("Executor CPU Time", 0)
                c["gc_ms"] += m.get("JVM GC Time", 0)
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                sr = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return {"phases": phases, "jobs": list(jobs.values()), "jobs_by_group": jobs_by_group}


def unattributed_jobs(jobs: list[dict], spans: Spans, prefix: str) -> dict[str, float]:
    """Seconds of ``prefix`` jobs that ran outside every stage span,
    keyed by the call site Spark recorded for them."""
    covered = [
        (r["start"], r["end"]) for r in spans.records if r["parent"] is not None
    ]
    out: Counter = Counter()
    for j in jobs:
        if not j["group"].startswith(prefix + ":") or j["end"] is None:
            continue
        mid = (j["start"] + j["end"]) / 2
        if not any(a <= mid <= b for a, b in covered):
            out[j["callsite"] or "?"] += j["end"] - j["start"]
    return {k: round(v, 4) for k, v in out.most_common()}
