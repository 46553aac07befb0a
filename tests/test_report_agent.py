"""Run-report, incidents, and decision-agent tests
(reference specs: tests/test_spark_jobs.py:328-400, tests/test_agent.py)."""

from __future__ import annotations

import json
from datetime import datetime, timedelta
from pathlib import Path

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
    run_report_from_df,
)
from autonomous_orchestrator_ai_spark.operators.transform import enrich_customer_events

NOW = datetime(2024, 1, 15, 1, 0, 0)


def test_run_report(events_fixture):
    curated = enrich_customer_events(
        events_fixture, processing_time=F.to_timestamp(F.lit("2024-01-15 01:00:00"))
    )
    report = run_report_from_df(curated)
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


def test_incident_store(spark, tmp_path):
    store = IncidentStore(spark, str(tmp_path / "incidents"))
    t0 = NOW
    i1 = store.log_incident("pipeline_failure", "spark job failed", severity="high", now=t0)
    i2 = store.log_incident("data_quality", "dq below threshold", severity="medium",
                            now=t0 + timedelta(hours=1))
    store.log_incident("data_quality", "stale", severity="low", now=t0 - timedelta(days=30))

    # auto-escalation on high severity (reference D10)
    latest = {r["id"]: r for r in store.latest_state().collect()}
    assert latest[i1]["escalated"] is True
    assert latest[i2]["escalated"] is False

    # recent window + ordering (reference O1: ORDER BY created_at DESC)
    recent = store.recent(days=7, now=t0 + timedelta(hours=2)).collect()
    assert [r["id"] for r in recent] == [i2, i1]
    only_dq = store.recent(days=7, incident_type="data_quality",
                           now=t0 + timedelta(hours=2)).collect()
    assert [r["id"] for r in only_dq] == [i2]

    # update/resolve via append-log + latest-state window
    store.resolve_incident(i1, notes="restarted", now=t0 + timedelta(hours=3))
    latest = {r["id"]: r for r in store.latest_state().collect()}
    assert latest[i1]["status"] == "resolved"
    assert latest[i1]["resolution_notes"] == "restarted"
    assert store.log_df().count() == 4  # 3 inserts + 1 update version

    # stats via one cube pass (reference A2-A5)
    stats = store.stats(days=7, now=t0 + timedelta(hours=2))
    assert stats["total_incidents"] == 2
    assert stats["escalated_count"] == 1
    assert stats["by_type"] == {"pipeline_failure": 1, "data_quality": 1}
    assert stats["by_severity"] == {"high": 1, "medium": 1}


def test_sparse_legacy_incident_reads_typed_nulls(spark, tmp_path):
    """A legacy log line that lacks escalated_at, resolved_at and
    created_by reads back with those fields as nulls of the declared
    types, and its timestamps parsed."""
    base = tmp_path / "inc"
    base.mkdir()
    rec = {
        "id": "old-2", "incident_type": "x", "summary": "s", "context": "{}",
        "severity": "low", "status": "open",
        "created_at": "2023-12-01T00:00:00", "updated_at": "2023-12-02T06:30:00",
        "escalated": False, "resolution_notes": None,
    }
    (base / "log.jsonl").write_text(json.dumps(rec) + "\n")
    df = IncidentStore(spark, str(base)).latest_state()
    types = dict(df.dtypes)
    assert (types["escalated_at"], types["resolved_at"], types["created_by"]) == (
        "timestamp", "timestamp", "string"
    )
    [row] = df.collect()
    assert row["escalated_at"] is None
    assert row["resolved_at"] is None
    assert row["created_by"] is None
    assert row["created_at"] == datetime(2023, 12, 1)
    assert row["updated_at"] == datetime(2023, 12, 2, 6, 30)
    assert row["escalated"] is False


def test_incident_store_monthly_partitions(spark, tmp_path):
    """VERDICT r4 item 8: updates touch exactly ONE partition file; reads
    with a retention cutoff prune old months; a legacy unpartitioned
    log.jsonl stays readable and updatable."""
    base = tmp_path / "inc"
    store = IncidentStore(spark, str(base))
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
    recent = store.recent(days=30, now=t_mar + timedelta(days=1)).collect()
    assert [r["id"] for r in recent] == [i_mar]
    latest = {r["id"]: r for r in store.latest_state().collect()}
    assert latest[i_jan]["status"] == "resolved"
    assert latest[i_mar]["status"] == "in_progress"

    # legacy layout: a plain log.jsonl is read and its incidents update
    # in place (appends go back to the legacy file)
    legacy_base = tmp_path / "legacy"
    legacy_base.mkdir()
    legacy_store = IncidentStore(spark, str(legacy_base))
    rec = {
        "id": "old-1", "incident_type": "x", "summary": "s", "context": "{}",
        "severity": "low", "status": "open",
        "created_at": "2023-12-01T00:00:00", "updated_at": "2023-12-01T00:00:00",
        "resolved_at": None, "escalated_at": None, "escalated": False,
        "resolution_notes": None, "created_by": "t",
    }
    (legacy_base / "log.jsonl").write_text(json.dumps(rec) + "\n")
    legacy_store.update_incident("old-1", status="resolved",
                                 now=datetime(2024, 1, 1))
    assert len((legacy_base / "log.jsonl").read_text().splitlines()) == 2
    assert not list(legacy_base.glob("log_*.jsonl"))
    state = legacy_store.latest_state().collect()
    assert state[0]["status"] == "resolved"

    # unknown id still raises
    import pytest as _pytest

    with _pytest.raises(KeyError):
        store.update_incident("nope")
