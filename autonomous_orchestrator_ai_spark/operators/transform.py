"""The customer-events transform pipeline (reference's inner dataflow query).

Reference: /root/reference/spark/jobs/ingest_transform.py — the straight-line
builder chain at :338-392 (SURVEY.md §3.2):

    kafka scan -> parse -> watermark -> transforms -> drift -> late -> DQ -> sink

Each stage here is a pure ``DataFrame -> DataFrame`` function; the chain is
``enrich_customer_events``. All expressions are built-ins: the whole pipeline
compiles to one WholeStageCodegen span over the scan — no shuffle, no UDF, no
Python in the hot path. At 100 TB this runs scan-speed: every flag is a
per-row expression so the plan is embarrassingly parallel, and predicate
pushdown/column pruning still reach the source because nothing here is opaque.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from autonomous_orchestrator_ai_spark.functions.enrich import with_email_domain, with_region
from autonomous_orchestrator_ai_spark.functions.temporal import (
    customer_age_days,
    late_arrival_flag,
    with_event_timestamps,
)
from autonomous_orchestrator_ai_spark.schemas import (
    CUSTOMER_EVENTS_SCHEMA,
    EMAIL_REGEX,
    VALID_PLANS,
)


def parse_kafka_messages(df: DataFrame, schema: T.StructType | None = None) -> DataFrame:
    """Decode a Kafka-envelope DataFrame (binary key/value + metadata) into
    typed columns (reference S2+P1+P2, ingest_transform.py:113-134).

    Works identically on ``spark.readStream.format("kafka")`` and batch
    ``spark.read.format("kafka")`` frames.
    """
    schema = schema or CUSTOMER_EVENTS_SCHEMA
    return df.select(
        F.col("key").cast("string").alias("kafka_key"),
        F.col("timestamp").alias("kafka_timestamp"),
        F.col("offset").alias("kafka_offset"),
        F.col("partition").alias("kafka_partition"),
        F.from_json(F.col("value").cast("string"), schema).alias("data"),
    ).select("kafka_key", "kafka_timestamp", "kafka_offset", "kafka_partition", "data.*")


def payload_drift_keys(raw_json: Column | str, declared: T.StructType | None = None) -> Column:
    """Array of payload keys NOT in the declared schema.

    Fixes the reference's inert column-set diff (ingest_transform.py:141-154
    compares against the parse schema, so it can never fire — SURVEY.md §3.2).
    Here the raw JSON's own keys are inspected via ``json_object_keys`` and
    diffed against the declared field list with ``array_except`` — pure
    expression work, no second parse job.
    """
    declared = declared or CUSTOMER_EVENTS_SCHEMA
    raw_json = F.col(raw_json) if isinstance(raw_json, str) else raw_json
    declared_names = F.array(*[F.lit(f.name) for f in declared.fields])
    return F.array_except(F.json_object_keys(raw_json), declared_names)


def detect_schema_drift(df: DataFrame, version_col: str = "version") -> DataFrame:
    """Row-level drift flag: version > 1 (reference P3, ingest_transform.py:
    157-162)."""
    return df.withColumn(
        "schema_drift_detected",
        F.when(F.col(version_col) > 1, F.lit(True)).otherwise(F.lit(False)),
    )


def detect_late_arrivals(df: DataFrame) -> DataFrame:
    """Flag-and-keep late arrivals (reference P9/T2, ingest_transform.py:
    211-225)."""
    return df.withColumn(
        "is_late_arrival",
        F.when(
            late_arrival_flag("event_timestamp", "processing_timestamp"),
            F.lit(True),
        ).otherwise(F.lit(False)),
    )


def apply_data_quality_checks(df: DataFrame, now: Column | None = None) -> DataFrame:
    """Inline DQ flags (reference P4-P8, ingest_transform.py:228-251).

    ``now`` parameterizes the no-future-timestamp check (defaults to
    ``current_timestamp()``; inject a literal for deterministic tests).
    """
    now = now if now is not None else F.current_timestamp()
    df = (
        df.withColumn("dq_email_valid", F.col("email").rlike(EMAIL_REGEX))
        .withColumn("dq_id_not_null", F.col("id").isNotNull())
        .withColumn("dq_timestamp_valid", F.col("event_timestamp") <= now)
        .withColumn("dq_plan_valid", F.col("plan").isin(VALID_PLANS))
    )
    return df.withColumn(
        "dq_passed",
        F.col("dq_email_valid")
        & F.col("dq_id_not_null")
        & F.col("dq_timestamp_valid")
        & F.col("dq_plan_valid"),
    )


def apply_transformations(df: DataFrame, processing_time: Column | None = None) -> DataFrame:
    """Timestamp conversion + region + email domain + customer age
    (reference F1-F5, ingest_transform.py:164-207)."""
    df = with_event_timestamps(df, processing_time)
    df = with_region(df)
    df = with_email_domain(df)
    return df.withColumn(
        "customer_age_days", customer_age_days("processing_timestamp", "signup_timestamp")
    )


def enrich_customer_events(
    df: DataFrame,
    processing_time: Column | None = None,
) -> DataFrame:
    """The full transform chain (reference process_stream order,
    ingest_transform.py:344-362): transforms -> drift -> late -> DQ.

    Batch and streaming both accept this (only Column expressions inside).
    """
    df = apply_transformations(df, processing_time)
    df = detect_schema_drift(df)
    df = detect_late_arrivals(df)
    df = apply_data_quality_checks(
        df, now=processing_time if processing_time is not None else None
    )
    return df


def apply_schema_remap(df: DataFrame, mapping: dict, target: T.StructType) -> DataFrame:
    """Apply an agent-issued schema remap (reference D7, agent/tools.py:91-134).

    ``mapping`` is {source_col -> target_col}; target fields absent from the
    input (after renames) are filled with typed NULLs; extra columns are
    dropped; every field is cast to the target type. Pure
    select/cast/lit(None) — a plan-construction step, not a rewrite rule
    (SURVEY.md §4).
    """
    renamed = {mapping.get(c, c): c for c in df.columns}
    cols = []
    for field in target.fields:
        if field.name in renamed:
            cols.append(F.col(renamed[field.name]).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def quarantine_split(df: DataFrame, condition: str) -> tuple[DataFrame, DataFrame]:
    """Split rows on an agent-issued SQL condition string (reference P10/D8,
    agent/tools.py:142-177): returns (quarantined, clean).

    The reference leaves the actual record movement "to the Spark job"; this
    is that movement. Caller writes each side to its sink — both frames share
    the same scan (Catalyst reuses it), so the split costs one pass.
    """
    pred = F.expr(condition)
    return df.filter(pred), df.filter(~F.coalesce(pred, F.lit(False)))
