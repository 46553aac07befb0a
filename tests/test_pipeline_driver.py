"""Integration test: the full self-healing tick (§3.1 chain) in-process."""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone
from pathlib import Path

from autonomous_orchestrator_ai_spark.pipeline_driver import run_pipeline_once
from autonomous_orchestrator_ai_spark.testing.generator import EventGenerator

NOW = datetime(2024, 1, 15, 1, 0, 0, tzinfo=timezone.utc)


def test_full_pipeline_tick(spark, tmp_path):
    g = EventGenerator(
        seed=11, n_customers=40, now=NOW, late_rate=0.3, drift_frequency=10
    )  # late_rate 0.3 > 0.15 threshold -> escalation expected
    indir = tmp_path / "in"
    g.write_jsonl(indir / "batch.jsonl", 200)

    result = run_pipeline_once(
        spark, str(indir), str(tmp_path / "work"), now=NOW.replace(tzinfo=None)
    )

    rr = result["run_report"]
    assert rr["total_records"] == 200
    assert rr["late_rate"] > 0.15
    assert rr["schema_drift_count"] == 20

    # decision: escalate on late rate, remap on drift, notify always
    d = result["decision"]
    assert d["escalation_required"] is True
    tools_used = [a["tool"] for a in d["actions_taken"]]
    assert "apply_schema_remap" in tools_used and "notify_ops" in tools_used
    assert all(a["result"]["success"] for a in result["actions_executed"])

    ops = tmp_path / "work" / "ops"
    assert json.loads((ops / "run_report.json").read_text())["total_records"] == 200
    ge = json.loads((ops / "ge_results.json").read_text())
    assert ge["summary"]["total_expectations"] == 15
    remap = json.loads((ops / "schema_remap.json").read_text())
    assert remap["applied"] is False and remap["version"] == 1
    assert (ops / "decisions.jsonl").exists()
    assert result["validation"]["ok"]

    # escalation recorded as a high-severity incident
    inc_dir = tmp_path / "work" / "incidents"
    incidents = [
        json.loads(l)
        for p in sorted(inc_dir.glob("log*.jsonl"))
        for l in p.read_text().splitlines()
    ]
    assert any(i["incident_type"] == "pipeline_escalation" and i["escalated"] for i in incidents)

    # curated store partitioned by (country, plan)
    curated = tmp_path / "work" / "curated"
    assert any(p.name.startswith("country=") for p in Path(curated).iterdir() if p.is_dir())


def test_healthy_pipeline_no_escalation(spark, tmp_path):
    g = EventGenerator(seed=12, n_customers=40, now=NOW, late_rate=0.0, drift_frequency=0)
    indir = tmp_path / "in"
    g.write_jsonl(indir / "batch.jsonl", 100)
    now = NOW.replace(tzinfo=None)
    result = run_pipeline_once(spark, str(indir), str(tmp_path / "work"), now=now)
    d = result["decision"]
    assert d["escalation_required"] is False
    assert "running normally" in d["reasoning"]
    assert [a["tool"] for a in d["actions_taken"]] == ["notify_ops"]

    # the report's start and end both sit on the injected (naive) clock
    rr = json.loads((tmp_path / "work" / "ops" / "run_report.json").read_text())
    start = datetime.fromisoformat(rr["start_time"])
    end = datetime.fromisoformat(rr["end_time"])
    assert start == now and end.tzinfo is None
    assert start <= end < start + timedelta(minutes=1)


#: Spark jobs the second tick below may run in the caller's job group; the
#: streaming micro-batch runs in its own group and is not counted. The
#: tick ran 4 in each of 5 measured repeats.
TICK_JOB_CEILING = 4


def test_validation_count_matches_independent_count(spark, tmp_path):
    """The load validation takes its row count from the DQ aggregate over
    curated/; over two incremental ticks it must equal an independent
    count of what the sink holds. The second tick stays within the job
    budget."""
    g = EventGenerator(seed=13, n_customers=40, now=NOW, late_rate=0.0, drift_frequency=0)
    indir, work = tmp_path / "in", tmp_path / "work"
    sc = spark.sparkContext
    group = f"tick-budget:{tmp_path.name}"
    for i, n in enumerate([120, 80]):
        g.write_jsonl(indir / f"batch{i}.jsonl", n)
        if i:
            sc.setJobGroup(group, group)
        try:
            result = run_pipeline_once(
                spark, str(indir), str(work), now=NOW.replace(tzinfo=None)
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counted = spark.read.parquet(str(work / "curated")).count()
        assert counted == 120 + 80 * i
        assert result["validation"] == {"rows_in_curated": counted, "ok": True}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= TICK_JOB_CEILING


def test_retention_sweep_keeps_the_live_checkpoint(spark, tmp_path, monkeypatch):
    """The tick's retention sweep runs on the wall clock. Past the
    retention window it must not remove the live streaming checkpoint:
    without it the next tick's query restarts at batch 0, the sink's
    committed-batch log skips that id, and the new events never land."""
    import time
    import types

    from autonomous_orchestrator_ai_spark.sources import writers

    g = EventGenerator(seed=14, n_customers=40, now=NOW, late_rate=0.0, drift_frequency=0)
    indir, work = tmp_path / "in", tmp_path / "work"
    later = time.time() + 8 * 86400  # past the default 7-day retention
    g.write_jsonl(indir / "batch0.jsonl", 120)
    with monkeypatch.context() as m:  # tick 0's sweep sees everything expired
        m.setattr(writers, "time", types.SimpleNamespace(time=lambda: later))
        run_pipeline_once(spark, str(indir), str(work), now=NOW.replace(tzinfo=None))
    g.write_jsonl(indir / "batch1.jsonl", 80)
    result = run_pipeline_once(
        spark, str(indir), str(work), now=NOW.replace(tzinfo=None)
    )
    assert (work / "checkpoints" / "curated").is_dir()
    assert result["run_report"]["total_records"] == 80
    assert spark.read.parquet(str(work / "curated")).count() == 200
    assert result["validation"]["rows_in_curated"] == 200
