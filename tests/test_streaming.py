"""Structured-streaming tests: file source + availableNow bounded runs
(SURVEY.md §5 strategy item d)."""

from __future__ import annotations

import json
import os
import re
import time
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.transform import parse_kafka_messages
from autonomous_orchestrator_ai_spark.schemas import CUSTOMER_EVENTS_SCHEMA
from autonomous_orchestrator_ai_spark.sources.readers import jsonl_as_kafka_envelope
from autonomous_orchestrator_ai_spark.streaming.pipeline import (
    ROCKSDB_STATE_PROVIDER,
    run_bounded,
    streaming_enrich,
    with_run_observation,
)
from autonomous_orchestrator_ai_spark.testing.generator import EventGenerator


def _ms(iso: str) -> int:
    return int(datetime.fromisoformat(iso).replace(tzinfo=timezone.utc).timestamp() * 1000)


@pytest.fixture()
def event_jsonl(tmp_path):
    """A small late/drift/bad-seeded event file (producer-anomaly parity,
    SURVEY.md §2.13)."""
    events = [
        # normal
        dict(id="e1", name="A", email="a@x.com", signup_ts=_ms("2023-01-01T00:00:00"),
             country="US", plan="free", event_ts=_ms("2024-01-15T00:59:00"), version=1),
        # late (>15 min before processing time 01:00)
        dict(id="e2", name="B", email="b@x.com", signup_ts=_ms("2023-01-01T00:00:00"),
             country="DE", plan="basic", event_ts=_ms("2024-01-14T20:00:00"), version=1),
        # drifted v2 (+marketing_opt_in)
        dict(id="e3", name="C", email="c@x.com", signup_ts=_ms("2023-01-01T00:00:00"),
             country="JP", plan="premium", event_ts=_ms("2024-01-15T00:58:00"), version=2,
             marketing_opt_in=True),
        # bad email
        dict(id="e4", name="D", email="not-an-email", signup_ts=_ms("2023-01-01T00:00:00"),
             country="BR", plan="free", event_ts=_ms("2024-01-15T00:57:00"), version=1),
    ]
    d = tmp_path / "events_in"
    d.mkdir()
    (d / "events.jsonl").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(d)  # streaming file sources require a directory


def test_streaming_pipeline_end_to_end(spark, tmp_path, event_jsonl):
    """Kafka-envelope parse -> enrich -> observe -> parquet sink, bounded by
    availableNow; listener accumulates the run report."""
    envelope = jsonl_as_kafka_envelope(spark, event_jsonl, streaming=True)
    parsed = parse_kafka_messages(envelope, CUSTOMER_EVENTS_SCHEMA)
    enriched = streaming_enrich(
        parsed, processing_time=F.to_timestamp(F.lit("2024-01-15 01:00:00"))
    )
    observed = with_run_observation(enriched)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    totals = run_bounded(observed, out, ckpt, timeout_seconds=120)

    assert totals["total_records"] == 4
    assert totals["late_records"] == 1       # e2
    assert totals["dq_failures"] == 1        # e4
    assert totals["schema_drift_count"] == 1  # e3 (version 2)

    # sink readable, enrichment columns present, kafka envelope carried
    written = spark.read.parquet(out)
    assert written.count() == 4
    row = {r["id"]: r for r in written.collect()}
    assert row["e1"]["region"] == "North America"
    assert row["e3"]["schema_drift_detected"] is True
    assert row["e2"]["is_late_arrival"] is True
    assert row["e1"]["kafka_key"] == "e1"

    # restart on same checkpoint: no reprocessing (exactly-once bookkeeping)
    totals2 = run_bounded(observed, out, ckpt, timeout_seconds=120)
    assert totals2["total_records"] == 0
    assert spark.read.parquet(out).count() == 4


def test_bounded_run_timeout_raises_then_rerun_is_exactly_once(spark, tmp_path, event_jsonl):
    """A bounded run that cannot drain its backlog in time fails loudly
    instead of returning partial totals; a re-run on the same checkpoint
    then lands every event in the sink exactly once."""
    envelope = jsonl_as_kafka_envelope(spark, event_jsonl, streaming=True)
    parsed = parse_kafka_messages(envelope, CUSTOMER_EVENTS_SCHEMA)
    observed = with_run_observation(
        streaming_enrich(parsed, processing_time=F.to_timestamp(F.lit("2024-01-15 01:00:00")))
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    expected = f"checkpoint {ckpt} did not finish within 0.01 s"
    with pytest.raises(TimeoutError, match=re.escape(expected)):
        run_bounded(observed, out, ckpt, timeout_seconds=0.01)
    assert not spark.streams.active

    run_bounded(observed, out, ckpt, timeout_seconds=120)
    ids = [r["id"] for r in spark.read.parquet(out).select("id").collect()]
    assert sorted(ids) == ["e1", "e2", "e3", "e4"]


def test_streaming_windowed_counts(spark, tmp_path, event_jsonl):
    """T7: event-time tumbling window agg under a watermark, availableNow."""
    envelope = jsonl_as_kafka_envelope(spark, event_jsonl, streaming=True)
    parsed = parse_kafka_messages(envelope, CUSTOMER_EVENTS_SCHEMA)
    enriched = streaming_enrich(
        parsed, processing_time=F.to_timestamp(F.lit("2024-01-15 01:00:00"))
    )
    windowed = enriched.groupBy(
        F.window("event_timestamp", "1 hour").alias("win")
    ).agg(F.count(F.lit(1)).alias("n"))

    query = (
        windowed.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    rows = spark.sql(
        "SELECT date_format(win.start, 'yyyy-MM-dd HH') h, n FROM win_counts ORDER BY h"
    ).collect()
    got = {r["h"]: r["n"] for r in rows}
    assert got["2024-01-14 20"] == 1  # the late event's hour
    assert got["2024-01-15 00"] == 3


def test_processing_time_trigger_delivers_every_event(spark, tmp_path):
    """T3 processingTime: a continuously triggered query over the broker-
    less Kafka envelope picks up a file present at start and one that
    lands while it runs, and every generated event reaches the sink."""
    gen = EventGenerator(seed=11, n_customers=50, now=datetime(2024, 1, 15, 1, 0))
    inbox, staged = tmp_path / "in", tmp_path / "staged"
    inbox.mkdir()
    gen.write_jsonl(inbox / "b0.jsonl", 30)
    gen.write_jsonl(staged / "b1.jsonl", 20)
    expected = sorted(
        (e["id"], e["event_ts"], e["version"])
        for f in (inbox / "b0.jsonl", staged / "b1.jsonl")
        for e in map(json.loads, f.read_text().splitlines())
    )

    envelope = jsonl_as_kafka_envelope(spark, str(inbox), streaming=True)
    q = (
        parse_kafka_messages(envelope, CUSTOMER_EVENTS_SCHEMA)
        .writeStream.format("memory")
        .queryName("ptime_events")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )

    def arrived(n: int) -> int:
        deadline = time.monotonic() + 90
        got = 0
        while time.monotonic() < deadline:
            got = spark.sql("SELECT count(*) c FROM ptime_events").collect()[0].c
            if got >= n:
                break
            time.sleep(0.5)
        return got

    try:
        assert arrived(30) == 30
        os.rename(staged / "b1.jsonl", inbox / "b1.jsonl")  # lands mid-run
        assert arrived(50) == 50
    finally:
        q.stop()
    got = sorted(
        (r.id, r.event_ts, r.version)
        for r in spark.sql("SELECT id, event_ts, version FROM ptime_events").collect()
    )
    assert got == expected


def test_windowed_agg_on_rocksdb_state_store(spark, tmp_path):
    """The bounded-state scale path (SURVEY.md §7.4): a watermarked
    windowed aggregation runs on ``streaming.pipeline``'s RocksDB
    state-store provider, so state spills to local disk instead of living
    on the JVM heap when key cardinality outgrows memory."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_STATE_PROVIDER)
    try:
        d = tmp_path / "in"
        d.mkdir()
        rows = [
            {"user": "a", "ts": "2024-01-15T10:05:00"},
            {"user": "a", "ts": "2024-01-15T10:20:00"},
            {"user": "b", "ts": "2024-01-15T11:40:00"},
        ]
        (d / "r.jsonl").write_text("\n".join(json.dumps(r) for r in rows))
        stream = (
            spark.readStream.schema("user string, ts string")
            .json(str(d))
            .select("user", F.to_timestamp("ts").alias("ts"))
            .withWatermark("ts", "10 minutes")
        )
        counts = stream.groupBy(
            F.window("ts", "1 hour").alias("win"), "user"
        ).agg(F.count(F.lit(1)).alias("n"))
        q = (
            counts.writeStream.outputMode("complete")
            .format("memory")
            .queryName("rocksdb_counts")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r.user, r.win.start.hour): r.n
            for r in spark.sql("SELECT * FROM rocksdb_counts").collect()
        }
        assert got == {("a", 10): 2, ("b", 11): 1}
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_rocksdb_state_store_backed_aggregation(tmp_path):
    """Stateful streaming under the RocksDB state store (the bounded-
    memory 100 TB configuration, streaming/pipeline.rocksdb_state_conf):
    results identical to the default store, and the checkpoint's state
    directory carries RocksDB artifacts — proof the provider engaged
    rather than silently falling back to the in-heap default."""
    import os

    from autonomous_orchestrator_ai_spark.session import get_spark
    from autonomous_orchestrator_ai_spark.streaming.pipeline import (
        rocksdb_state_conf,
    )

    spark = get_spark(
        "rocksdb-state-test", cpus=2, extra_conf=rocksdb_state_conf()
    ).newSession()
    for k, v in rocksdb_state_conf().items():
        spark.conf.set(k, v)
    src, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    spark.range(1000).selectExpr("id % 13 AS k", "id AS v").write.parquet(src)
    agg = (
        spark.readStream.schema("k bigint, v bigint")
        .parquet(src)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("rocksdb_agg")
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["k"]: (r["n"], r["s"]) for r in spark.table("rocksdb_agg").collect()}
    expect = {
        r["k"]: (r["n"], r["s"])
        for r in spark.read.parquet(src)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == expect and len(got) == 13
    # the state checkpoint must contain RocksDB artifacts (sst/changelog/
    # zip), not the default provider's plain .delta files only
    state_files = []
    for root, _dirs, files in os.walk(os.path.join(ck, "state")):
        state_files += files
    assert state_files, "no state files written"
    assert any(
        f.endswith((".zip", ".sst", ".changelog")) for f in state_files
    ), f"no RocksDB artifacts in state dir: {state_files[:10]}"
