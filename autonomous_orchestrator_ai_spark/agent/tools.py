"""Remediation tools (reference agent/tools.py, D5-D10).

Side-effecting adapters behind a name->callable registry
(tools.py:279-306). Network-touching tools (Airflow retrigger, Slack,
SMTP) accept OPTIONAL adapters from ``agent.transports`` — each with an
injectable transport, defaulting to the console fallback the reference
itself uses when endpoints are absent (notifications.py:147-160). The
JSONL audit trail is always written, adapters or not."""

from __future__ import annotations

import json
from datetime import datetime
from pathlib import Path

from autonomous_orchestrator_ai_spark.agent.transports import (
    SLACK_SEVERITY_COLORS as SEVERITY_COLORS,
)
from autonomous_orchestrator_ai_spark.sources.writers import (
    append_jsonl,
    write_text_atomic,
)


class PipelineTools:
    """Tool registry (reference D5, tools.py:289-306).

    ``now`` is the clock every tool stamps with (the tick's injected
    clock; None reads the wall clock at each call)."""

    def __init__(
        self,
        ops_dir: str,
        incident_store=None,
        slack=None,  # transports.SlackNotifier
        email=None,  # transports.EmailNotifier
        airflow=None,  # transports.AirflowClient
        dag_id: str = "data_pipeline",
        now: datetime | None = None,
    ):
        self.ops_dir = Path(ops_dir)
        self.ops_dir.mkdir(parents=True, exist_ok=True)
        self.incident_store = incident_store
        self.slack = slack
        self.email = email
        self.airflow = airflow
        self.dag_id = dag_id
        self.now = now
        self.notifications: list[dict] = []  # console-fallback audit trail
        self._quarantine_seq = 0

    def _now(self) -> datetime:
        return self.now or datetime.now()

    # -- D7: versioned schema-remap config (tools.py:91-134) ---------------

    def apply_schema_remap(self, mapping: dict | None = None, **kwargs) -> dict:
        """Write/merge the versioned remap JSON with the applied:false
        handshake the ingest job honors next run (consumed contract:
        reference tests/test_agent.py:26-50). Re-issuing the current
        directive (same merged mapping, same extra params) is a successful
        no-op that keeps its version and leaves the file untouched."""
        path = self.ops_dir / "schema_remap.json"
        existing = json.loads(path.read_text()) if path.exists() else {}
        merged = {**existing.get("mapping", {}), **(mapping or {})}
        current = {
            k: v for k, v in existing.items() if k not in ("version", "applied", "timestamp")
        }
        if existing and current == {"mapping": merged, **kwargs}:
            return {"success": True, "version": existing["version"], "path": str(path)}
        version = int(existing.get("version", 0)) + 1
        doc = {
            "version": version,
            "mapping": merged,
            "applied": False,
            "timestamp": self._now().isoformat(),
            **kwargs,
        }
        write_text_atomic(path, json.dumps(doc, indent=2))
        return {"success": True, "version": version, "path": str(path)}

    def mark_remap_applied(self) -> None:
        path = self.ops_dir / "schema_remap.json"
        doc = json.loads(path.read_text())
        doc["applied"] = True
        write_text_atomic(path, json.dumps(doc, indent=2))

    # -- D8: quarantine metadata (tools.py:136-177) ------------------------

    def quarantine_records(
        self, filter_condition: str, source: str = "curated", reason: str = ""
    ) -> dict:
        """Emit the quarantine directive; the Spark job performs the actual
        split-write (operators.transform.quarantine_split +
        sources.writers.write_quarantine). Each directive gets its own
        directory: the name carries a sequence number, and the create is
        exclusive, so two directives in one second never share one."""
        ts = self._now().strftime("%Y%m%d_%H%M%S")
        parent = self.ops_dir / "quarantine"
        parent.mkdir(exist_ok=True)
        while True:
            self._quarantine_seq += 1
            qdir = parent / f"quarantine_{ts}_{self._quarantine_seq:04d}"
            try:
                qdir.mkdir(exist_ok=False)
                break
            except FileExistsError:  # another PipelineTools took this name
                pass
        meta = {
            "filter_condition": filter_condition,
            "source": source,
            "reason": reason,
            "timestamp": self._now().isoformat(),
            "status": "pending",
        }
        write_text_atomic(qdir / "metadata.json", json.dumps(meta, indent=2))
        return {"success": True, "quarantine_dir": str(qdir), "metadata": meta}

    # -- D6: retrigger (reference Airflow REST protocol, tools.py:36-89) ---

    def retrigger_task(self, task_id: str = "run_spark_job") -> dict:
        """With an AirflowClient configured, run the reference's two-step
        REST protocol (latest dagRun -> clearTaskInstances); the JSONL
        request marker is appended either way as the audit record."""
        marker = self.ops_dir / "retrigger_requests.jsonl"
        req = {"task_id": task_id, "requested_at": self._now().isoformat()}
        result = {"success": True, "request": req}
        if self.airflow is not None:
            api = self.airflow.retrigger_task(self.dag_id, task_id)
            req["airflow"] = api
            result = {"success": api.get("success", False), "request": req}
        append_jsonl(marker, req)
        return result

    # -- D9: notify (Slack/SMTP adapters; console fallback,
    #    notifications.py:147-160) ------------------------------------------

    def notify_ops(self, message: str, severity: str = "info") -> dict:
        note = {
            "message": message,
            "severity": severity,
            "color": SEVERITY_COLORS.get(severity, SEVERITY_COLORS["info"]),
            "timestamp": self._now().isoformat(),
        }
        if self.slack is not None:
            note["slack"] = self.slack.send(message, severity=severity)
        if self.email is not None:
            note["email"] = self.email.send(
                "Pipeline Alert", message, severity=severity
            )
        self.notifications.append(note)
        append_jsonl(self.ops_dir / "notifications.jsonl", note)
        return {"success": True, "notification": note}

    # -- D10: escalate (tools.py:223-267) ----------------------------------

    def escalate_incident(
        self, summary: str, severity: str = "high", context: dict | None = None
    ) -> dict:
        if self.incident_store is None:
            return {"success": False, "error": "no incident store configured"}
        incident_id = self.incident_store.log_incident(
            incident_type="escalation",
            summary=summary,
            context=context,
            severity=severity,
            now=self.now,
        )
        return {"success": True, "incident_id": incident_id}

    # -- D5: dispatch ------------------------------------------------------

    def registry(self) -> dict:
        return {
            "retrigger_task": self.retrigger_task,
            "apply_schema_remap": self.apply_schema_remap,
            "quarantine_records": self.quarantine_records,
            "notify_ops": self.notify_ops,
            "escalate_incident": self.escalate_incident,
        }

    def execute(self, tool_name: str, params: dict) -> dict:
        reg = self.registry()
        if tool_name not in reg:
            return {"success": False, "error": f"unknown tool: {tool_name}"}
        return reg[tool_name](**params)

    def execute_actions(self, actions: list[dict]) -> list[dict]:
        """Run a decision's planned actions through the registry."""
        return [
            {"tool": a["tool"], "result": self.execute(a["tool"], a.get("params", {}))}
            for a in actions
        ]
