"""Incidents store + ops analytics (reference S8/A2-A5/O1-O2/D10/D13).

The reference keeps incidents in SQLite with in-place UPDATEs
(ops/incident_store.py:41-74, 125-154, 261-290) plus a JSONL fallback. A
Spark-native store can't update Parquet in place, so the design follows
SURVEY.md §7.4: an **append-only JSONL/parquet event log is the source of
truth**, and the "current state" is a view —
``row_number() over (partition by id order by updated_at desc) = 1`` — which
also supplies the window-function coverage the reference lacks (§2.5).

At scale: the log partitions by the incident's CREATED month — every
version row of one incident lives in its created-month file, so
``recent``/``stats`` prune the read to the retention window's months and
``update_incident`` touches exactly ONE partition file (found by a
newest-to-oldest driver-side scan, no Spark job — VERDICT r4 item 8).
The latest-state window shuffles by incident id only over the files read.
"""

from __future__ import annotations

import json
import uuid
from datetime import datetime, timedelta
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from autonomous_orchestrator_ai_spark.schemas import INCIDENTS_SCHEMA

#: the log lines as written: INCIDENTS_SCHEMA with the timestamps as their
#: ISO strings — what schema inference yields, without inference's extra
#: job on every read. Fields a sparse (legacy) line lacks read as nulls.
LOG_JSON_SCHEMA = T.StructType(
    [
        T.StructField(
            f_.name,
            T.StringType()
            if isinstance(f_.dataType, T.TimestampType)
            else f_.dataType,
        )
        for f_ in INCIDENTS_SCHEMA.fields
    ]
)


class IncidentStore:
    """Append-only incident log with a latest-state view.

    ``base_path`` holds monthly ``log_YYYY-MM.jsonl`` files (append-only;
    the source of truth, mirroring the reference's JSONL fallback
    incident_store.py:156-162, partitioned by created month). A legacy
    unpartitioned ``log.jsonl`` in the same directory is still read and
    its incidents still updatable in place.

    Concurrency contract: SINGLE WRITER (the decision agent / pipeline
    driver), matching the reference's deployment shape. Appends use
    O_APPEND one-line writes — safe against a concurrent READER on a
    local filesystem — but two concurrent writers can (a) interleave
    ``update_incident``'s read-modify-append so the later appender
    silently discards the other's field updates (lost update), and
    (b) produce identical ``updated_at`` timestamps, making
    ``latest_state``'s last-version-wins ordering nondeterministic
    between their rows. Multi-writer deployments must serialize through
    one agent process or an external lock; this store intentionally does
    not take file locks (the reference's SQLite path gets this from the
    database instead)."""

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base = Path(base_path)
        self.base.mkdir(parents=True, exist_ok=True)
        #: legacy unpartitioned log — still read (and written to for
        #: incidents that live there) so pre-partitioning stores keep
        #: working; new incidents go to monthly files
        self.legacy_log_path = self.base / "log.jsonl"

    # -- partition layout -------------------------------------------------

    def _month_path(self, month: str) -> Path:
        return self.base / f"log_{month}.jsonl"

    def _files_desc(self, min_month: str | None = None) -> list[Path]:
        """Partition files newest-first (legacy file last — unknown
        months); ``min_month`` ('YYYY-MM') prunes months strictly before
        it, the read-path win of the monthly layout."""
        monthly = sorted(self.base.glob("log_*.jsonl"), reverse=True)
        if min_month is not None:
            monthly = [p for p in monthly if p.stem[len("log_"):] >= min_month]
        if self.legacy_log_path.exists() and self.legacy_log_path.stat().st_size:
            monthly.append(self.legacy_log_path)
        return monthly

    def _find_latest(self, incident_id: str) -> tuple[dict, Path] | None:
        """Latest version row of one incident + the file holding it —
        driver-side, newest partition first, NO Spark job. All versions
        of an incident are co-located in one file (appends go to the file
        where the incident was found), and within a file append order is
        version order (single-writer contract), so the last matching line
        of the first file containing the id is the current state."""
        for path in self._files_desc():
            last = None
            with path.open() as f:
                for line in f:
                    rec = json.loads(line)
                    if rec["id"] == incident_id:
                        last = rec
            if last is not None:
                return last, path
        return None

    # -- writes (driver-side appends; incidents are ops metadata, not data
    # -- plane — single-row writes don't warrant a Spark job)

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
        with self._month_path(now.isoformat()[:7]).open("a") as f:
            f.write(json.dumps(rec) + "\n")
        return incident_id

    def update_incident(self, incident_id: str, now: datetime | None = None, **updates) -> None:
        """Update = append a new version row (dynamic-SET equivalent of
        incident_store.py:261-290). Touches exactly ONE partition file:
        the incident's latest state is located by a driver-side scan
        (``_find_latest``), and the new version appends to the same file,
        keeping all of an incident's versions co-located."""
        found = self._find_latest(incident_id)
        if found is None:
            raise KeyError(f"incident {incident_id} not found")
        rec, path = found
        rec.update(updates)
        rec["updated_at"] = (now or datetime.now()).isoformat()
        with path.open("a") as f:
            f.write(json.dumps(rec) + "\n")

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

    # -- reads (Spark SQL over the log)

    def log_df(self, min_created_month: str | None = None) -> DataFrame:
        """The (optionally month-pruned) version log as a DataFrame.
        ``min_created_month`` ('YYYY-MM') skips partition files entirely
        below that month — correct for any created_at >= cutoff filter
        because versions live in their incident's created-month file."""
        paths = [
            str(p)
            for p in self._files_desc(min_created_month)
            if p.stat().st_size
        ]
        if not paths:
            return self.spark.createDataFrame([], INCIDENTS_SCHEMA)
        df = self.spark.read.schema(LOG_JSON_SCHEMA).json(paths)
        return df.select(
            *(
                F.col(f_.name).cast(f_.dataType).alias(f_.name)
                for f_ in INCIDENTS_SCHEMA.fields
            )
        )

    def latest_state(self, min_created_month: str | None = None) -> DataFrame:
        """Current state per incident: last appended version wins
        (row_number over id ordered by updated_at desc)."""
        w = Window.partitionBy("id").orderBy(F.desc("updated_at"))
        return (
            self.log_df(min_created_month)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def recent(
        self,
        days: int = 7,
        incident_type: str | None = None,
        now: datetime | None = None,
    ) -> DataFrame:
        """Recent incidents, newest first (reference incident_store.py:
        200-234: WHERE created_at >= cutoff [AND type] ORDER BY created_at
        DESC)."""
        cutoff = (now or datetime.now()) - timedelta(days=days)
        df = self.latest_state(cutoff.isoformat()[:7]).filter(
            F.col("created_at") >= F.lit(cutoff)
        )
        if incident_type:
            df = df.filter(F.col("incident_type") == incident_type)
        return df.orderBy(F.desc("created_at"))

    def stats(self, days: int = 7, now: datetime | None = None) -> dict:
        """Grouped stats (reference A2-A5, incident_store.py:316-371):
        counts by type / severity / status + total + escalated — computed in
        ONE pass via grouping sets instead of four separate queries."""
        cutoff = (now or datetime.now()) - timedelta(days=days)
        df = self.latest_state(cutoff.isoformat()[:7]).filter(
            F.col("created_at") >= F.lit(cutoff)
        )
        rows = (
            df.cube("incident_type", "severity", "status")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("escalated").cast("int")).alias("n_escalated"),
            )
            .collect()
        )
        by_type: dict[str, int] = {}
        by_severity: dict[str, int] = {}
        by_status: dict[str, int] = {}
        total = escalated = 0
        for r in rows:
            t, s, st = r["incident_type"], r["severity"], r["status"]
            if t is None and s is None and st is None:
                total, escalated = r["n"], int(r["n_escalated"] or 0)
            elif t is not None and s is None and st is None:
                by_type[t] = r["n"]
            elif t is None and s is not None and st is None:
                by_severity[s] = r["n"]
            elif t is None and s is None and st is not None:
                by_status[st] = r["n"]
        return {
            "total_incidents": total,
            "escalated_count": escalated,
            "by_type": by_type,
            "by_severity": by_severity,
            "by_status": by_status,
            "window_days": days,
        }
