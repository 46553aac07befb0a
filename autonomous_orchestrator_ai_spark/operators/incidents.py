"""Incidents store (reference S8/O1/D10/D13).

The reference keeps incidents in SQLite with in-place UPDATEs
(ops/incident_store.py:41-74, 125-154, 261-290) plus a JSONL fallback its
agent reads directly. This store is that JSONL, kept on the driver: an
**append-only log of version lines is the source of truth**, and the
current state of an incident is its last appended line. Incidents are
ops metadata, a few lines per tick, so neither writes nor reads run a
Spark job — the same way Structured Streaming keeps its offset and commit
logs as small driver-side files.

The log partitions by the incident's CREATED month: every version line of
one incident lives in its created-month file, so ``recent`` prunes the
read to the retention window's months and ``update_incident`` touches
exactly ONE partition file (VERDICT r4 item 8).
"""

from __future__ import annotations

import json
import uuid
from datetime import datetime, timedelta
from pathlib import Path

from autonomous_orchestrator_ai_spark.schemas import INCIDENTS_SCHEMA
from autonomous_orchestrator_ai_spark.sources.writers import append_jsonl

FIELDS = INCIDENTS_SCHEMA.fieldNames()
#: written as ISO strings, read back as naive datetimes
TIMESTAMP_FIELDS = [
    f_.name for f_ in INCIDENTS_SCHEMA.fields if f_.dataType.typeName() == "timestamp"
]


def _latest_in(path: Path) -> dict[str, dict]:
    """Current state of each incident in one partition file: the last
    appended line of its id wins. An unterminated final line is an append
    that never committed and is skipped; a malformed line that does end
    in a newline is corruption and raises ``ValueError``."""
    latest: dict[str, dict] = {}
    with path.open("rb") as f:
        for lineno, line in enumerate(f, 1):
            if not line.endswith(b"\n"):
                break
            try:
                rec = json.loads(line)
            except ValueError as exc:
                raise ValueError(
                    f"{path}:{lineno}: malformed incident log line"
                ) from exc
            latest[rec["id"]] = rec
    return latest


class IncidentStore:
    """Append-only incident log; the last appended version wins.

    ``base_path`` holds monthly ``log_YYYY-MM.jsonl`` files (append-only;
    the source of truth, mirroring the reference's JSONL fallback
    incident_store.py:156-162, partitioned by created month).

    Concurrency contract: SINGLE WRITER (the decision agent / pipeline
    driver), matching the reference's deployment shape. Appends are
    one-line O_APPEND writes — safe against a concurrent READER on a
    local filesystem — but two concurrent writers can interleave
    ``update_incident``'s read-modify-append so the later appender
    silently discards the other's field updates (lost update).
    Multi-writer deployments must serialize through one agent process or
    an external lock; this store intentionally does not take file locks
    (the reference's SQLite path gets this from the database instead)."""

    def __init__(self, base_path: str):
        self.base = Path(base_path)
        self.base.mkdir(parents=True, exist_ok=True)

    # -- partition layout -------------------------------------------------

    def _month_path(self, month: str) -> Path:
        return self.base / f"log_{month}.jsonl"

    def _files_desc(self, min_month: str | None = None) -> list[Path]:
        """Partition files newest-first; ``min_month`` ('YYYY-MM') prunes
        months strictly before it, the read-path win of the monthly
        layout."""
        monthly = sorted(self.base.glob("log_*.jsonl"), reverse=True)
        if min_month is not None:
            monthly = [p for p in monthly if p.stem[len("log_"):] >= min_month]
        return monthly

    def _find_latest(self, incident_id: str) -> tuple[dict, Path] | None:
        """Latest version of one incident + the file holding it, newest
        partition first. All versions of an incident are co-located in
        one file (appends go to the file where the incident was found), so
        the first file holding the id holds its current state."""
        for path in self._files_desc():
            rec = _latest_in(path).get(incident_id)
            if rec is not None:
                return rec, path
        return None

    # -- writes

    def log_incident(
        self,
        incident_type: str,
        summary: str,
        context: dict | None = None,
        severity: str = "medium",
        created_by: str = "pipeline_agent",
        now: datetime | None = None,
    ) -> str:
        """Insert (reference incident_store.py:125-154). Auto-escalates on
        severity high/critical (reference D10, tools.py:223-267)."""
        now = now or datetime.now()
        incident_id = str(uuid.uuid4())
        escalated = severity in ("high", "critical")
        rec = {
            "id": incident_id,
            "incident_type": incident_type,
            "summary": summary,
            "context": json.dumps(context or {}),
            "severity": severity,
            "status": "open",
            "created_at": now.isoformat(),
            "updated_at": now.isoformat(),
            "resolved_at": None,
            "escalated_at": now.isoformat() if escalated else None,
            "escalated": escalated,
            "resolution_notes": None,
            "created_by": created_by,
        }
        append_jsonl(self._month_path(now.isoformat()[:7]), rec)
        return incident_id

    def update_incident(self, incident_id: str, now: datetime | None = None, **updates) -> None:
        """Update = append a new version line (dynamic-SET equivalent of
        incident_store.py:261-290) to the one partition file that holds
        the incident, keeping all of its versions co-located."""
        found = self._find_latest(incident_id)
        if found is None:
            raise KeyError(f"incident {incident_id} not found")
        rec, path = found
        rec.update(updates)
        rec["updated_at"] = (now or datetime.now()).isoformat()
        append_jsonl(path, rec)

    def resolve_incident(
        self, incident_id: str, notes: str | None = None, now: datetime | None = None
    ) -> None:
        now = now or datetime.now()
        self.update_incident(
            incident_id,
            now=now,
            status="resolved",
            resolved_at=now.isoformat(),
            resolution_notes=notes,
        )

    # -- reads

    def recent(
        self,
        days: int = 7,
        incident_type: str | None = None,
        now: datetime | None = None,
    ) -> list[dict]:
        """Current state of the recent incidents, newest first (reference
        incident_store.py:200-234: WHERE created_at >= cutoff [AND type]
        ORDER BY created_at DESC), bounded above by ``now``: an incident
        created after it is not yet recent. Each row has the
        INCIDENTS_SCHEMA keys, its timestamps as the naive datetimes
        written."""
        now = now or datetime.now()
        cutoff = now - timedelta(days=days)
        rows = []
        for path in self._files_desc(cutoff.isoformat()[:7]):
            for rec in _latest_in(path).values():
                row = {name: rec[name] for name in FIELDS}
                for name in TIMESTAMP_FIELDS:
                    if row[name] is not None:
                        row[name] = datetime.fromisoformat(row[name])
                if cutoff <= row["created_at"] <= now and (
                    not incident_type or row["incident_type"] == incident_type
                ):
                    rows.append(row)
        return sorted(rows, key=lambda r: r["created_at"], reverse=True)
