"""End-to-end pipeline tick — the in-process equivalent of the reference's
Airflow DAG (pipeline_dag.py:464, SURVEY.md §3.1):

    monitor -> run ingest -> data quality -> decide -> validate -> cleanup

No subprocess hops: stages pass metrics as dicts (the reference's JSON file
contracts are still written for observability). Any stage failure becomes an
incident + notification (the reference's failure callback C7).
"""

from __future__ import annotations

import json
import time
from datetime import datetime, timedelta
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.agent.decision import (
    DecisionContext,
    log_decision,
    rule_based_decision,
)
from autonomous_orchestrator_ai_spark.agent.tools import PipelineTools
from autonomous_orchestrator_ai_spark.operators.dq import dimension_scores, run_suite
from autonomous_orchestrator_ai_spark.operators.dq_suites import customers_suite
from autonomous_orchestrator_ai_spark.operators.incidents import IncidentStore
from autonomous_orchestrator_ai_spark.operators.report import (
    build_run_report,
    write_run_report,
)
from autonomous_orchestrator_ai_spark.operators.transform import parse_kafka_messages
from autonomous_orchestrator_ai_spark.schemas import customer_events_schema
from autonomous_orchestrator_ai_spark.sources.readers import jsonl_as_kafka_envelope
from autonomous_orchestrator_ai_spark.sources.writers import cleanup_old_data, write_text_atomic
from autonomous_orchestrator_ai_spark.streaming.pipeline import (
    run_bounded,
    streaming_enrich,
    with_quality_score,
    with_run_observation,
)


def run_pipeline_once(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    now: datetime | None = None,
    quality_weights: dict[int, float] | None = None,
    quality_text_col: str = "name",
) -> dict:
    """One pipeline tick over a JSONL event directory (the broker-less stand
    -in for the Kafka topic). Returns the decision + all stage outputs.

    Layout under ``work_dir``: curated/ (partitioned parquet sink),
    checkpoints/, ops/ (run_report.json, ge_results.json, decisions.jsonl,
    notifications.jsonl, quarantine/ — the retention sweep's only target),
    incidents/.
    """
    now = now or datetime.now()
    started = time.monotonic()
    work = Path(work_dir)
    ops = work / "ops"
    ops.mkdir(parents=True, exist_ok=True)
    incidents = IncidentStore(str(work / "incidents"))
    tools = PipelineTools(str(ops), incident_store=incidents, now=now)
    now_lit = F.to_timestamp(F.lit(now.strftime("%Y-%m-%d %H:%M:%S")))

    try:
        # ---- C2: bounded ingest run (stream -> curated parquet) ----------
        envelope = jsonl_as_kafka_envelope(spark, input_dir, streaming=True)
        # parse against the widest declared schema so drifted payload fields
        # survive into the curated store (drift flag still marks them)
        parsed = parse_kafka_messages(envelope, customer_events_schema(3))
        enriched = streaming_enrich(parsed, processing_time=now_lit)
        observed = with_run_observation(enriched)
        if quality_weights is not None:
            # r7: curation scoring in the SAME bounded tick the DQ flags
            # ride — stateless map stage, model constant embedded in-plan
            observed = with_quality_score(
                observed, quality_weights, text_col=quality_text_col
            )
        totals = run_bounded(
            observed,
            str(work / "curated"),
            str(work / "checkpoints" / "curated"),
            partition_by=["country", "plan"],
            timeout_seconds=300,
        )
        # both ends on the injected clock: the report's own default end is
        # the wall clock in UTC, which a naive or replayed ``now`` never
        # matches
        run_report = build_run_report(
            totals,
            start_time=now.isoformat(),
            end_time=(now + timedelta(seconds=time.monotonic() - started)).isoformat(),
        )
        if "quality_scored_records" in totals:
            run_report["quality_scored_records"] = totals["quality_scored_records"]
            run_report["quality_mean_score"] = round(
                totals["quality_mean_score"], 6
            )
        write_run_report(run_report, str(ops / "run_report.json"))

        # ---- C3: declarative DQ over the curated table -------------------
        curated = spark.read.parquet(str(work / "curated"))
        ge_results = run_suite(
            curated, customers_suite(freshness_window=True), now=now, collect_examples=10
        )
        ge_results["dimensions"] = dimension_scores(ge_results)
        write_text_atomic(ops / "ge_results.json", json.dumps(ge_results, indent=2, default=str))

        # ---- C4: decide + execute remediation ----------------------------
        context = DecisionContext(
            run_report=run_report,
            ge_results=ge_results,
            recent_incidents=incidents.recent(days=7, now=now),
        )
        decision = rule_based_decision(context)
        executed = tools.execute_actions(decision.actions)
        log_decision(decision, context, ops / "decisions.jsonl", now=now)
        if decision.escalation_required:
            incidents.log_incident(
                "pipeline_escalation",
                decision.reasoning,
                context={"run_report": run_report},
                severity="high",
                now=now,
            )

        # ---- C5: validate load ------------------------------------------
        # the DQ aggregate counted this same snapshot of curated/, and no
        # stage since writes to it: re-reading it would cost three jobs
        loaded = ge_results["validations"][0]["results"][0]["result"]["element_count"]
        validation = {"rows_in_curated": loaded, "ok": loaded > 0}
        write_text_atomic(ops / "load_validation.json", json.dumps(validation))

        # ---- C6: retention ----------------------------------------------
        # sweeps the quarantine directives that pile up one per action; never
        # checkpoints/: Spark writes only inside the live checkpoint's
        # subdirs, so its ctime stays at the first tick's and a sweep would
        # delete it, after which the restarted query's batch ids collide
        # with the sink's committed ones and new events are skipped
        removed = cleanup_old_data(str(ops / "quarantine"))

        return {
            "run_report": run_report,
            "ge_results_summary": ge_results["summary"],
            "decision": decision.to_dict(),
            "actions_executed": executed,
            "validation": validation,
            "retention_removed": removed,
        }
    except Exception as exc:  # C7: failure callback -> incident + notify
        incidents.log_incident(
            "pipeline_failure", f"pipeline tick failed: {exc}", severity="high", now=now
        )
        tools.notify_ops(f"Pipeline tick failed: {exc}", severity="critical")
        raise
