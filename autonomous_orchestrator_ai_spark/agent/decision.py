"""Rule-based decision contract (reference D1-D4, decision_agent.py:432-493).

Deterministic, pure: context in -> decision out; tool execution is the
caller's job (agent.tools registry) so the logic is unit-testable without
IO. Thresholds mirror decision_agent.py:63-70.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

from autonomous_orchestrator_ai_spark.sources.writers import append_jsonl

#: Reference thresholds (decision_agent.py:63-70; config.yml:46-49).
THRESHOLDS = {
    "late_arrival_threshold": 0.15,
    "dq_failure_threshold": 0.05,
    "schema_drift_auto_remap": True,
    "incident_escalation_threshold": 3,
    "confidence_threshold": 0.7,
}


@dataclass
class DecisionContext:
    """Inputs (reference DecisionContext pydantic, decision_agent.py:37-43)."""

    run_report: dict = field(default_factory=dict)
    ge_results: dict = field(default_factory=dict)
    recent_incidents: list[dict] = field(default_factory=list)


@dataclass
class DecisionResult:
    decision: str
    reasoning: str
    actions: list[dict]
    confidence: float
    escalation_required: bool

    def to_dict(self) -> dict:
        return {
            "decision": self.decision,
            "reasoning": self.reasoning,
            "actions_taken": self.actions,
            "confidence": self.confidence,
            "escalation_required": self.escalation_required,
        }


def rule_based_decision(
    context: DecisionContext, thresholds: dict | None = None
) -> DecisionResult:
    """The deterministic contract (decision_agent.py:432-493):

    - schema drift detected -> plan an auto schema-remap action
    - late_rate > 15%       -> escalate
    - dq_failure_rate > 5%  -> escalate
    - always plan a notify action (info, or warning when escalating)
    """
    th = {**THRESHOLDS, **(thresholds or {})}
    rr = context.run_report
    actions: list[dict] = []
    reasoning: list[str] = []
    escalation = False

    if rr.get("schema_drift_detected", False):
        reasoning.append("Schema drift detected")
        if th["schema_drift_auto_remap"]:
            actions.append({"tool": "apply_schema_remap", "params": {"auto_remap": True}})
            reasoning.append("Applied automatic schema remapping")

    total = rr.get("total_records", 0)
    late = rr.get("late_records", 0)
    if total > 0:
        late_rate = late / total
        if late_rate > th["late_arrival_threshold"]:
            reasoning.append(f"High late arrival rate: {late_rate:.2%}")
            escalation = True

    dq_failures = rr.get("dq_failures", 0)
    if total > 0:
        dq_rate = dq_failures / total
        if dq_rate > th["dq_failure_threshold"]:
            reasoning.append(f"High DQ failure rate: {dq_rate:.2%}")
            escalation = True

    if not reasoning:
        reasoning.append("Pipeline running normally")

    actions.append(
        {
            "tool": "notify_ops",
            "params": {
                "message": f"Pipeline status: {'; '.join(reasoning)}",
                "severity": "warning" if escalation else "info",
            },
        }
    )

    return DecisionResult(
        decision="Rule-based analysis",
        reasoning="; ".join(reasoning),
        actions=actions,
        confidence=0.8,  # rule-based decisions carry fixed high confidence
        escalation_required=escalation,
    )


def log_decision(
    result: DecisionResult,
    context: DecisionContext,
    path: str | Path,
    now: datetime | None = None,
) -> None:
    """JSONL audit log (reference D11, decision_agent.py:495-523), appended
    under ``writers.append_jsonl``'s commit rule."""
    entry = {
        "timestamp": (now or datetime.now()).isoformat(),
        "decision": result.to_dict(),
        "context_summary": {
            "total_records": context.run_report.get("total_records", 0),
            "late_records": context.run_report.get("late_records", 0),
            "dq_failures": context.run_report.get("dq_failures", 0),
            "schema_drift": context.run_report.get("schema_drift_detected", False),
            "recent_incident_count": len(context.recent_incidents),
        },
    }
    p = Path(path)
    p.parent.mkdir(parents=True, exist_ok=True)
    append_jsonl(p, entry)
