"""Streaming pipeline wrapper (reference process_stream,
ingest_transform.py:338-392, rebuilt).

Differences from the reference, by design (SURVEY.md §3.2 defects):

- run metrics come from ``df.observe``, summed over the micro-batches of
  ``query.recentProgress`` — the reference's post-hoc ``.agg().collect()``
  on a streaming DF is unsupported and silently broken;
- the watermark is applied before any stateful operator, so it can bound
  state; in the reference it was inert;
- bounded runs use ``trigger(availableNow=True)`` for deterministic tests
  and backfills instead of only wall-clock ``awaitTermination``.

All transform stages are the same batch operators from
``operators.transform`` — they're Column-expression-only, so they run
unchanged under a streaming plan.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions.temporal import WATERMARK_DELAY
from autonomous_orchestrator_ai_spark.operators.report import report_metric_columns
from autonomous_orchestrator_ai_spark.operators.transform import enrich_customer_events

OBSERVATION_NAME = "run_stats"

#: second observation channel: the trained-classifier curation score
#: (sum + count ride each micro-batch so the cross-batch MEAN is exact)
QUALITY_OBSERVATION = "quality_stats"


def with_quality_score(
    df: DataFrame,
    weights: dict[int, float],
    text_col: str = "name",
    score_col: str = "quality_score",
) -> DataFrame:
    """Curation-scoring stage for the bounded-stream tick (r7, VERDICT r6
    item 8): score each record with the trained classifier's weight table
    via the STATELESS per-row form (operators.classify.trained_score_expr
    — the model is a bounded constant embedded as two parsed array
    literals, so building the stage costs the same driver time whatever
    the model size, and it is a map-only stage: no shuffle, no state,
    append-mode-safe, rides the same micro-batch the DQ flags do) and
    observe (n, score_sum) so the run report carries the exact
    cross-batch mean."""
    from autonomous_orchestrator_ai_spark.operators.classify import trained_score_expr

    scored = df.withColumn(score_col, trained_score_expr(text_col, weights))
    return scored.observe(
        QUALITY_OBSERVATION,
        F.count(score_col).alias("quality_n"),
        F.sum(score_col).alias("quality_score_sum"),
    )


def streaming_enrich(
    parsed: DataFrame,
    processing_time: Column | None = None,
) -> DataFrame:
    """parse-output -> watermark -> full enrichment chain (T1 + F1-F5 +
    P3-P9). Watermark is applied on event_timestamp right after it exists,
    mirroring ingest_transform.py:349-350 but *before* stateful ops so it
    actually bounds their state. The delay is ``WATERMARK_DELAY``, the one
    the run report states."""
    enriched = enrich_customer_events(parsed, processing_time=processing_time)
    return enriched.withWatermark("event_timestamp", WATERMARK_DELAY)


def with_run_observation(df: DataFrame) -> DataFrame:
    """Attach the A1 run-report metrics as an Observation (streaming-safe:
    metrics ride each micro-batch, no extra job)."""
    return df.observe(OBSERVATION_NAME, *report_metric_columns())


def _await_bounded(query, checkpoint: str, timeout_seconds: float | None) -> None:
    """Wait for an availableNow query to drain its backlog. A run still
    active after ``timeout_seconds`` is stopped and raises TimeoutError:
    a bounded run either finishes or fails, never hands back the totals
    of a partial backlog. The checkpoint keeps the committed batches, so
    a re-run on it resumes where the stopped one ended."""
    query.awaitTermination(timeout_seconds)
    if query.isActive:
        query.stop()
        raise TimeoutError(
            f"bounded streaming run on checkpoint {checkpoint} did not "
            f"finish within {timeout_seconds} s"
        )


def run_bounded(
    df: DataFrame,
    sink_path: str,
    checkpoint: str,
    partition_by: list[str] = (),
    timeout_seconds: float | None = None,
) -> dict:
    """Bounded append-mode streaming run (T6): availableNow trigger
    processes the whole backlog then stops — the deterministic twin of
    the reference's ``awaitTermination(duration*60)`` wall-clock runs.
    Returns the run stats summed over the query's progress reports;
    raises TimeoutError if the backlog is not drained within
    ``timeout_seconds``."""
    writer = (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    query = writer.start()
    _await_bounded(query, checkpoint, timeout_seconds)
    # recentProgress is synchronous post-termination (listener events are
    # delivered on a separate thread and may lag a bounded run's end)
    totals = {k: 0 for k in ("total_records", "late_records", "dq_failures", "schema_drift_count")}
    qual_n, qual_sum = 0, 0.0
    for progress in query.recentProgress:
        doc = json.loads(progress.json)  # StreamingQueryProgress: attr access is restricted
        observed = doc.get("observedMetrics") or {}
        metrics = observed.get(OBSERVATION_NAME)
        if metrics:
            for k in totals:
                totals[k] += int(metrics.get(k, 0) or 0)
        q = observed.get(QUALITY_OBSERVATION)
        if q:
            qual_n += int(q.get("quality_n", 0) or 0)
            qual_sum += float(q.get("quality_score_sum", 0.0) or 0.0)
    if qual_n:  # the quality stage is optional — keys appear only when it ran
        totals["quality_scored_records"] = qual_n
        totals["quality_mean_score"] = qual_sum / qual_n
    return totals


ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def rocksdb_state_conf(
    changelog_checkpointing: bool = True,
) -> dict[str, str]:
    """Session conf for RocksDB-backed streaming state — the 100 TB
    requirement for stateful streaming (SURVEY.md §7.4 'Streaming state
    at 100 TB'): the default HDFS-backed store keeps every key in
    executor HEAP memory, so watermark/window/dedup state is bounded by
    the JVM; RocksDB holds it off-heap on local disk with incremental
    (changelog) checkpointing, bounding memory regardless of key
    cardinality. Apply via ``get_spark(extra_conf=rocksdb_state_conf())``
    (the provider must be set before the streaming query starts).

    ``changelog_checkpointing`` uploads per-batch changelogs instead of
    full RocksDB snapshots — the steady-state checkpoint cost becomes
    proportional to the batch's CHANGED keys, not total state size."""
    conf = {"spark.sql.streaming.stateStore.providerClass":
            ROCKSDB_STATE_PROVIDER}
    if changelog_checkpointing:
        conf[
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        ] = "true"
    return conf
