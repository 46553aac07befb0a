"""Run-report, incidents, and decision-agent tests
(reference specs: tests/test_spark_jobs.py:328-400, tests/test_agent.py)."""

from __future__ import annotations

import io
import json
import time
from datetime import datetime, timedelta
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.agent.decision import (
    DecisionContext,
    log_decision,
    rule_based_decision,
)
from autonomous_orchestrator_ai_spark.agent.tools import PipelineTools
from autonomous_orchestrator_ai_spark.operators.incidents import IncidentStore
from autonomous_orchestrator_ai_spark.operators.report import (
    build_run_report,
    report_metric_columns,
)
from autonomous_orchestrator_ai_spark.operators.transform import enrich_customer_events
from autonomous_orchestrator_ai_spark.schemas import INCIDENTS_SCHEMA

NOW = datetime(2024, 1, 15, 1, 0, 0)


def test_run_report(events_fixture):
    curated = enrich_customer_events(
        events_fixture, processing_time=F.to_timestamp(F.lit("2024-01-15 01:00:00"))
    )
    report = build_run_report(curated.agg(*report_metric_columns()).first().asDict())
    assert report["total_records"] == 5
    assert report["dq_failures"] == 1  # cust_003
    assert report["schema_drift_count"] == 0
    assert report["late_records"] == 5  # fixture events are all >15min old
    assert report["late_rate"] == 1.0
    assert report["watermark_delay"] == "15 minutes"
    assert report["dq_failure_rate"] == 0.2


def test_build_run_report_rates():
    r = build_run_report(
        {"total_records": 1000, "late_records": 75, "dq_failures": 30, "schema_drift_count": 2}
    )
    assert r["late_rate"] == 0.075
    assert r["dq_failure_rate"] == 0.03
    assert r["schema_drift_detected"] is True


# -- decision agent ---------------------------------------------------------


def test_decision_normal():
    ctx = DecisionContext(run_report={"total_records": 100, "late_records": 1, "dq_failures": 0})
    d = rule_based_decision(ctx)
    assert d.escalation_required is False
    assert "running normally" in d.reasoning
    assert d.actions[-1]["tool"] == "notify_ops"
    assert d.actions[-1]["params"]["severity"] == "info"
    assert d.confidence == 0.8


def test_decision_drift_triggers_remap():
    ctx = DecisionContext(run_report={"total_records": 100, "schema_drift_detected": True})
    d = rule_based_decision(ctx)
    assert d.actions[0]["tool"] == "apply_schema_remap"
    assert d.escalation_required is False


def test_decision_late_escalates():
    """20% late -> escalate (reference tests/test_agent.py:200-220)."""
    ctx = DecisionContext(run_report={"total_records": 100, "late_records": 20})
    d = rule_based_decision(ctx)
    assert d.escalation_required is True
    assert "late arrival" in d.reasoning.lower()


def test_decision_dq_escalates():
    """10% DQ failures -> escalate (reference tests/test_agent.py:222-242)."""
    ctx = DecisionContext(run_report={"total_records": 100, "dq_failures": 10})
    d = rule_based_decision(ctx)
    assert d.escalation_required is True


def test_decision_threshold_boundaries():
    # exactly at threshold: NOT over -> no escalation
    ctx = DecisionContext(run_report={"total_records": 100, "late_records": 15, "dq_failures": 5})
    assert rule_based_decision(ctx).escalation_required is False


def test_tools_and_decision_log(tmp_path):
    tools = PipelineTools(str(tmp_path / "ops"))
    # D7 remap contract: version=1, applied=false (tests/test_agent.py:26-50)
    r1 = tools.apply_schema_remap({"old_col": "new_col"})
    doc = json.loads((tmp_path / "ops" / "schema_remap.json").read_text())
    assert doc["version"] == 1 and doc["applied"] is False
    assert doc["mapping"] == {"old_col": "new_col"}
    r2 = tools.apply_schema_remap({"a": "b"})
    doc = json.loads((tmp_path / "ops" / "schema_remap.json").read_text())
    assert doc["version"] == 2 and doc["mapping"] == {"old_col": "new_col", "a": "b"}
    assert r1["success"] and r2["version"] == 2
    # re-issuing the current directive is a successful no-op
    before = (tmp_path / "ops" / "schema_remap.json").read_bytes()
    r3 = tools.apply_schema_remap({"a": "b"})
    assert r3["success"] and r3["version"] == 2
    assert (tmp_path / "ops" / "schema_remap.json").read_bytes() == before

    # D8 quarantine metadata (tests/test_agent.py:52-78)
    q = tools.quarantine_records("country = 'INVALID'", reason="bad country")
    meta = q["metadata"]
    assert meta["filter_condition"] == "country = 'INVALID'"
    assert meta["status"] == "pending"

    # dispatch + audit log
    ctx = DecisionContext(run_report={"total_records": 100, "late_records": 20})
    d = rule_based_decision(ctx)
    executed = tools.execute_actions(d.actions)
    assert all(e["result"]["success"] for e in executed)
    assert tools.notifications[-1]["severity"] == "warning"

    log_decision(d, ctx, tmp_path / "ops" / "decisions.jsonl", now=NOW)
    lines = (tmp_path / "ops" / "decisions.jsonl").read_text().splitlines()
    entry = json.loads(lines[0])
    assert entry["decision"]["escalation_required"] is True
    assert entry["context_summary"]["total_records"] == 100

    # unknown tool -> structured error, not crash
    assert tools.execute("nope", {})["success"] is False


class _Crash(Exception):
    """A crash injected partway through a file write."""


def _tear_writes(monkeypatch):
    """Every file opened for writing dies in its first write: half the
    text reaches the file, then ``_Crash`` is raised (a process killed
    mid-write leaves the same bytes behind)."""
    real_open = io.open

    class Torn:
        def __init__(self, f):
            self._f = f

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._f.close()

        def write(self, text):
            self._f.write(text[: len(text) // 2])
            self._f.flush()
            raise _Crash

        def __getattr__(self, name):
            return getattr(self._f, name)

    def torn_open(file, mode="r", *args, **kwargs):
        f = real_open(file, mode, *args, **kwargs)
        return Torn(f) if set(mode) & set("wxa+") else f

    monkeypatch.setattr(io, "open", torn_open)


@pytest.mark.parametrize("step", ["apply_schema_remap", "mark_remap_applied"])
def test_crash_mid_remap_write_keeps_the_previous_version(tmp_path, monkeypatch, step):
    """A crash partway through publishing ``schema_remap.json`` leaves the
    previous version whole, and the next remap succeeds on it."""
    tools = PipelineTools(str(tmp_path), now=NOW)
    tools.apply_schema_remap({"old_col": "new_col"})
    path = tmp_path / "schema_remap.json"
    before = path.read_bytes()
    with monkeypatch.context() as m:
        _tear_writes(m)
        with pytest.raises(_Crash):
            if step == "apply_schema_remap":
                tools.apply_schema_remap({"a": "b"})
            else:
                tools.mark_remap_applied()
    assert path.read_bytes() == before
    assert json.loads(path.read_text())["version"] == 1
    assert [p.name for p in tmp_path.iterdir()] == ["schema_remap.json"]
    r = tools.apply_schema_remap({"a": "b"})
    assert r["success"] and r["version"] == 2
    doc = json.loads(path.read_text())
    assert doc["mapping"] == {"old_col": "new_col", "a": "b"} and doc["applied"] is False
    # published with the mode a plain write_text gives
    (tmp_path / "ref.json").write_text("{}")
    assert path.stat().st_mode == (tmp_path / "ref.json").stat().st_mode


def test_tools_stamp_with_the_injected_clock(tmp_path):
    """Every tool stamps with the tick's clock, not the wall clock: the
    remap, the quarantine name and metadata, the retrigger, the notify,
    and the escalated incident, which files in the clock's month and is
    recent only from its creation on."""
    now = datetime(2024, 1, 15, 12, 30, 5)
    store = IncidentStore(str(tmp_path / "incidents"))
    tools = PipelineTools(str(tmp_path / "ops"), incident_store=store, now=now)
    stamp = now.isoformat()
    tools.apply_schema_remap({"a": "b"})
    doc = json.loads((tmp_path / "ops" / "schema_remap.json").read_text())
    assert doc["timestamp"] == stamp
    q = tools.quarantine_records("country = 'INVALID'")
    assert Path(q["quarantine_dir"]).name.startswith("quarantine_20240115_123005_")
    assert q["metadata"]["timestamp"] == stamp
    assert tools.retrigger_task()["request"]["requested_at"] == stamp
    assert tools.notify_ops("x")["notification"]["timestamp"] == stamp
    incident_id = tools.execute("escalate_incident", {"summary": "x"})["incident_id"]
    assert [p.name for p in (tmp_path / "incidents").iterdir()] == ["log_2024-01.jsonl"]
    assert [r["id"] for r in store.recent(days=7, now=now)] == [incident_id]
    # a replayed tick an hour earlier must not see the incident yet
    assert store.recent(days=7, now=now - timedelta(hours=1)) == []


def test_quarantine_directives_in_one_second_each_keep_their_own_dir(tmp_path):
    """Two directives issued back to back (same wall-clock second) land in
    two directories; neither metadata.json overwrites the other."""
    tools = PipelineTools(str(tmp_path / "ops"))
    conds = ["country = 'INVALID'", "plan IS NULL"]
    dirs = [tools.quarantine_records(c)["quarantine_dir"] for c in conds]
    assert len(set(dirs)) == 2
    assert sorted(p.name for p in (tmp_path / "ops" / "quarantine").iterdir()) == sorted(
        Path(d).name for d in dirs
    )
    for d, cond in zip(dirs, conds):
        meta = json.loads((Path(d) / "metadata.json").read_text())
        assert meta["filter_condition"] == cond
    # a second tools instance on the same ops dir skips the names taken
    other = PipelineTools(str(tmp_path / "ops")).quarantine_records("x = 1")
    assert other["quarantine_dir"] not in dirs


# -- incidents --------------------------------------------------------------


def _lines(base: Path) -> list[dict]:
    return [json.loads(l) for p in sorted(base.glob("log_*.jsonl")) for l in p.read_text().splitlines()]


def test_incident_store(tmp_path):
    store = IncidentStore(str(tmp_path / "incidents"))
    t0 = NOW
    i1 = store.log_incident("pipeline_failure", "spark job failed", severity="high", now=t0)
    i2 = store.log_incident("data_quality", "dq below threshold", severity="medium",
                            now=t0 + timedelta(hours=1))
    store.log_incident("data_quality", "stale", severity="low", now=t0 - timedelta(days=30))

    # recent window + ordering (reference O1: ORDER BY created_at DESC)
    recent = store.recent(days=7, now=t0 + timedelta(hours=2))
    assert [r["id"] for r in recent] == [i2, i1]
    assert all(list(r) == INCIDENTS_SCHEMA.fieldNames() for r in recent)
    assert recent[1]["created_at"] == t0 and recent[1]["resolved_at"] is None
    only_dq = store.recent(days=7, incident_type="data_quality",
                           now=t0 + timedelta(hours=2))
    assert [r["id"] for r in only_dq] == [i2]

    # auto-escalation on high severity (reference D10)
    latest = {r["id"]: r for r in recent}
    assert latest[i1]["escalated"] is True and latest[i1]["escalated_at"] == t0
    assert latest[i2]["escalated"] is False

    # update/resolve append a version line; the last one wins
    store.resolve_incident(i1, notes="restarted", now=t0 + timedelta(hours=3))
    latest = {r["id"]: r for r in store.recent(days=7, now=t0 + timedelta(hours=4))}
    assert latest[i1]["status"] == "resolved"
    assert latest[i1]["resolution_notes"] == "restarted"
    assert latest[i1]["resolved_at"] == t0 + timedelta(hours=3)
    assert len(_lines(tmp_path / "incidents")) == 4  # 3 inserts + 1 update version


def test_incident_update_with_an_earlier_clock_keeps_the_last_appended_version(tmp_path):
    """An update's ``now`` may be earlier than the previous version's (an
    injected or replayed clock); the last appended version still wins,
    for ``recent`` and for the next ``update_incident`` alike."""
    store = IncidentStore(str(tmp_path / "inc"))
    i = store.log_incident("data_quality", "x", now=NOW)
    store.update_incident(i, status="in_progress", now=NOW + timedelta(hours=2))
    store.resolve_incident(i, notes="fixed", now=NOW + timedelta(hours=1))
    [row] = store.recent(days=7, now=NOW + timedelta(hours=3))
    assert (row["status"], row["updated_at"]) == ("resolved", NOW + timedelta(hours=1))

    store.update_incident(i, severity="low", now=NOW + timedelta(minutes=30))
    last = _lines(tmp_path / "inc")[-1]
    assert (last["status"], last["resolution_notes"], last["severity"]) == (
        "resolved", "fixed", "low"
    )
    [row] = store.recent(days=7, now=NOW + timedelta(hours=3))
    assert (row["status"], row["severity"]) == ("resolved", "low")


def test_recent_returns_the_naive_times_written_in_any_host_zone(tmp_path, monkeypatch):
    """Timestamps come back exactly as written, and the window edge sits
    at ``now - days`` on the same naive clock, whatever the host's zone."""
    store = IncidentStore(str(tmp_path / "inc"))
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        inside = store.log_incident("a", "x", now=NOW - timedelta(days=7) + timedelta(hours=1))
        store.log_incident("b", "y", now=NOW - timedelta(days=7) - timedelta(hours=1))
        latest = store.log_incident("c", "z", now=NOW)
        rows = store.recent(days=7, now=NOW)
    finally:
        monkeypatch.undo()
        time.tzset()
    assert [r["id"] for r in rows] == [latest, inside]
    assert rows[0]["created_at"] == NOW and rows[0]["updated_at"] == NOW
    assert rows[1]["created_at"] == NOW - timedelta(days=7) + timedelta(hours=1)


def test_torn_final_line_is_skipped_then_cut_by_the_next_append(tmp_path):
    """A crash mid-append leaves a final line without its newline: an
    append that never committed. Reads skip it, and the next append cuts
    it off, so the next incident is not fused onto it and lost."""
    base = tmp_path / "inc"
    store = IncidentStore(str(base))
    i1 = store.log_incident("data_quality", "x", now=NOW)
    path = base / "log_2024-01.jsonl"
    with path.open("a") as f:
        f.write('{"id": "torn", "incident_type": "data_qu')
    assert [r["id"] for r in store.recent(days=7, now=NOW)] == [i1]
    store.update_incident(i1, status="in_progress", now=NOW)  # cuts the torn line
    i2 = store.log_incident("data_quality", "y", now=NOW + timedelta(minutes=1))
    assert path.read_text().endswith("\n")
    assert [r["id"] for r in _lines(base)] == [i1, i1, i2]
    assert [r["id"] for r in store.recent(days=7, now=NOW + timedelta(hours=1))] == [i2, i1]


def test_torn_decision_line_is_cut_by_the_next_log_decision(tmp_path):
    """decisions.jsonl follows the same commit rule as the incident log: a
    crash-torn final line is cut off by the next append instead of fusing
    with it into one corrupt line."""
    path = tmp_path / "ops" / "decisions.jsonl"
    ctx = DecisionContext(run_report={"total_records": 100, "late_records": 20})
    d = rule_based_decision(ctx)
    log_decision(d, ctx, path, now=NOW)
    with path.open("a") as f:
        f.write('{"timestamp": "2024-01-15T01:05:00", "decis')
    log_decision(d, ctx, path, now=NOW + timedelta(minutes=10))
    text = path.read_text()
    assert text.endswith("\n")
    stamps = [json.loads(line)["timestamp"] for line in text.splitlines()]
    assert stamps == [NOW.isoformat(), (NOW + timedelta(minutes=10)).isoformat()]


def test_tool_logs_cut_a_torn_final_line(tmp_path):
    """notifications.jsonl and retrigger_requests.jsonl: the same rule."""
    tools = PipelineTools(str(tmp_path / "ops"), now=NOW)
    tools.notify_ops("first")
    tools.retrigger_task()
    for name in ("notifications.jsonl", "retrigger_requests.jsonl"):
        with (tmp_path / "ops" / name).open("a") as f:
            f.write('{"message": "torn')
    tools.notify_ops("second")
    tools.retrigger_task("other_task")
    notes = (tmp_path / "ops" / "notifications.jsonl").read_text().splitlines()
    assert [json.loads(n)["message"] for n in notes] == ["first", "second"]
    reqs = (tmp_path / "ops" / "retrigger_requests.jsonl").read_text().splitlines()
    assert [json.loads(r)["task_id"] for r in reqs] == ["run_spark_job", "other_task"]


def test_malformed_committed_line_raises_naming_the_file_and_line(tmp_path):
    base = tmp_path / "inc"
    store = IncidentStore(str(base))
    i1 = store.log_incident("data_quality", "x", now=NOW)
    path = base / "log_2024-01.jsonl"
    with path.open("a") as f:
        f.write("not json\n")
    store.log_incident("data_quality", "y", now=NOW)
    for read in (lambda: store.recent(days=7, now=NOW),
                 lambda: store.update_incident(i1, status="resolved", now=NOW)):
        with pytest.raises(ValueError, match=rf"log_2024-01\.jsonl:2: malformed"):
            read()


def test_incident_store_monthly_partitions(tmp_path):
    """VERDICT r4 item 8: updates touch exactly ONE partition file; reads
    with a retention cutoff prune old months."""
    base = tmp_path / "inc"
    store = IncidentStore(str(base))
    t_jan = datetime(2024, 1, 10, 12, 0)
    t_mar = datetime(2024, 3, 5, 9, 0)
    i_jan = store.log_incident("pipeline_failure", "old", severity="low", now=t_jan)
    i_mar = store.log_incident("data_quality", "new", severity="medium", now=t_mar)

    jan_f, mar_f = base / "log_2024-01.jsonl", base / "log_2024-03.jsonl"
    assert jan_f.exists() and mar_f.exists()

    # update of the March incident must not touch January's file
    jan_before = jan_f.read_bytes()
    store.update_incident(i_mar, status="in_progress", now=t_mar + timedelta(hours=1))
    assert jan_f.read_bytes() == jan_before
    assert len(mar_f.read_text().splitlines()) == 2  # insert + version

    # versions stay co-located: January update lands in January's file
    store.resolve_incident(i_jan, notes="done", now=t_mar)
    assert len(jan_f.read_text().splitlines()) == 2
    assert len(mar_f.read_text().splitlines()) == 2

    # month pruning: a 30-day window from mid-March never lists January's
    # file, and results are correct
    pruned = store._files_desc("2024-02")
    assert jan_f not in pruned and mar_f in pruned
    recent = store.recent(days=30, now=t_mar + timedelta(days=1))
    assert [r["id"] for r in recent] == [i_mar]
    latest = {r["id"]: r for r in store.recent(days=90, now=t_mar + timedelta(days=1))}
    assert latest[i_jan]["status"] == "resolved"
    assert latest[i_mar]["status"] == "in_progress"

    # unknown id still raises
    with pytest.raises(KeyError):
        store.update_incident("nope")
