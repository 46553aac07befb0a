"""Run-report metrics (reference A1/A7/S6).

Reference: /root/reference/spark/jobs/ingest_transform.py:307-336 (the
conditional-count aggregate + JSON report) — note the reference computes this
with ``.agg().collect()`` on a *streaming* DataFrame after the stream stops,
which is unsupported (SURVEY.md §3.2 defect). Here
``streaming.pipeline.with_run_observation`` wires the same expressions
through ``df.observe``, so metrics accumulate per micro-batch with zero
extra jobs.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import Column
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions.temporal import WATERMARK_DELAY
from autonomous_orchestrator_ai_spark.sources.writers import write_text_atomic


def report_metric_columns() -> list[Column]:
    """The A1 conditional counts (ingest_transform.py:310-316)."""
    return [
        F.count(F.lit(1)).alias("total_records"),
        F.count(F.when(F.col("is_late_arrival") == True, 1)).alias("late_records"),  # noqa: E712
        F.count(F.when(F.col("dq_passed") == False, 1)).alias("dq_failures"),  # noqa: E712
        F.count(F.when(F.col("schema_drift_detected") == True, 1)).alias(  # noqa: E712
            "schema_drift_count"
        ),
    ]


def build_run_report(
    stats: dict,
    start_time: str | None = None,
    end_time: str | None = None,
) -> dict:
    """Assemble the run_report document (shape: ingest_transform.py:44-52,
    318-324; spec tests/test_spark_jobs.py:331-357)."""
    now = datetime.now(timezone.utc).isoformat()
    total = int(stats.get("total_records", 0))
    report = {
        "total_records": total,
        "late_records": int(stats.get("late_records", 0)),
        "schema_drift_detected": int(stats.get("schema_drift_count", 0)) > 0,
        "dq_failures": int(stats.get("dq_failures", 0)),
        "schema_drift_count": int(stats.get("schema_drift_count", 0)),
        "processing_errors": int(stats.get("processing_errors", 0)),
        "start_time": start_time or now,
        "end_time": end_time or now,
        "watermark_delay": WATERMARK_DELAY,
    }
    report["late_rate"] = report["late_records"] / total if total else 0.0
    report["dq_failure_rate"] = report["dq_failures"] / total if total else 0.0
    return report


def write_run_report(report: dict, path: str) -> None:
    """Persist the report JSON (reference S6 writes /data/ops/run_report.json),
    published atomically."""
    p = Path(path)
    p.parent.mkdir(parents=True, exist_ok=True)
    write_text_atomic(p, json.dumps(report, indent=2))
