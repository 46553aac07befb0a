"""Streaming <-> batch parity sweep: representative transform cores from the
registered query surface (projections, predicates, enrichments, grouped and
windowed aggregations) run through availableNow file-streaming and must
produce BIT-IDENTICAL results to the batch path over the same parquet.

This is the contract that makes the engine's batch oracle evidence carry
over to its streaming mode: a core whose streaming execution diverges from
batch (eval-order-dependent float sums, non-deterministic expressions,
unsupported incremental aggregates) fails here. Aggregation cores therefore
use exact types on purpose (counts, decimal sums, min/max) — the same
fixed-point discipline the DuckDB oracles enforce.
"""

from __future__ import annotations

import uuid
from unittest import mock

import pytest
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions import temporal
from autonomous_orchestrator_ai_spark.functions.temporal import (
    late_arrival_flag,
)
from autonomous_orchestrator_ai_spark.functions.text import (
    fingerprint,
    lang_id,
    token_count,
)
from autonomous_orchestrator_ai_spark.plans.registry import table

SF_DIR = "/root/testdata/sf0.001"

_NOW = "TIMESTAMP'2024-06-01 00:00:00'"
_DEC = "decimal(18,4)"


def _category(df):
    """P3 CASE-decode core (event_category_decode)."""
    return df.select(
        "event_id",
        "event_type",
        F.when(F.col("event_type").isin("purchase", "signup"), "conversion")
        .when(F.col("event_type") == "error", "failure")
        .otherwise("engagement")
        .alias("category"),
    )


def _dq_flags(df):
    """P4/P5/P8 predicate core (dq_flag_rates shape)."""
    return df.select(
        "event_id",
        F.col("value").isNotNull().alias("has_value"),
        (F.col("value") >= 0).alias("value_nonneg"),
        F.col("event_type").rlike("^[a-z_]+$").alias("type_wellformed"),
        (F.col("user_id").isNotNull() & F.col("ts").isNotNull()).alias(
            "keys_present"
        ),
    )


def _late_flag(df):
    """P9 flag-and-keep core (late_arrivals_by_type): annotate, never
    filter, against an injected processing timestamp and a 90-day
    threshold (the fixture's events span months)."""
    with mock.patch.object(temporal, "LATE_THRESHOLD_MINUTES", 60 * 24 * 90):
        flag = late_arrival_flag(F.col("ts"), F.expr(_NOW))
    return df.select("event_id", "event_type", flag.alias("is_late_arrival"))


def _quarantine_keep(df):
    """P10 quarantine keep-side predicate."""
    return df.filter(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    ).select("event_id", "event_type", "value")


def _doc_text_stats(df):
    """Text-analysis projection core (text_stats_per_doc)."""
    return df.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        lang_id("text").alias("lang"),
        fingerprint("text").alias("fp"),
    )


def _grouped_counts(df):
    """A2-A4 grouped agg core (events_by_type) — exact decimal sum."""
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).alias("total_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def _flag_rates(df):
    """A6 conditional-rate agg core (pipeline_run_report shape)."""
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        F.sum((F.col("value") > 100).cast("long")).alias("n_large"),
    )


def _tumbling_daily(df):
    """T7 tumbling event-time window core (daily_event_counts)."""
    return df.groupBy(
        F.window("ts", "1 day").alias("win"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(_DEC)).alias("sum_value"),
    )


def _sliding_6h(df):
    """Sliding-window agg core (6h window, 3h slide)."""
    return df.groupBy(F.window("ts", "6 hours", "3 hours").alias("win")).agg(
        F.count(F.lit(1)).alias("n")
    )


def _ddsketch_build(df):
    """DDSketch build core (ddsketch_value_quantiles): the sketch IS a
    groupBy over geometric buckets, so it streams as an ordinary
    incremental agg — per-batch partial sketches merge by bucket-wise
    count addition, which is exactly DDSketch's merge law. Counts are
    integers -> bit parity, no float discipline needed."""
    from autonomous_orchestrator_ai_spark.operators.ddsketch import (
        ddsketch_build,
    )

    return ddsketch_build(df, "value", ["event_type"])


def _user_minmax(df):
    """Grouped min/max/count per user (argmax/latest-per-key family)."""
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


EVENT_CORES = {
    "category_decode": ("append", _category),
    "dq_flags": ("append", _dq_flags),
    "late_flag": ("append", _late_flag),
    "quarantine_keep": ("append", _quarantine_keep),
    "grouped_counts": ("complete", _grouped_counts),
    "flag_rates": ("complete", _flag_rates),
    "tumbling_daily": ("complete", _tumbling_daily),
    "sliding_6h": ("complete", _sliding_6h),
    "user_minmax": ("complete", _user_minmax),
    "ddsketch_build": ("complete", _ddsketch_build),
}
def _calibration_bins(df):
    """Calibration-bin core (classifier_calibration_report): per-row
    scoring is deterministic and the per-bin state is integer counts
    (n, n_pos), so the reliability diagram streams as an ordinary
    incremental agg with bit parity — the avg/gap columns of the batch
    report derive from these counts."""
    from autonomous_orchestrator_ai_spark.functions.text import token_count
    from autonomous_orchestrator_ai_spark.operators.classify import (
        hashed_linear_score,
    )

    p = hashed_linear_score("text")
    y = F.when(token_count("text") >= 30, 1).otherwise(0)
    return (
        df.select(
            F.least(F.floor(p * 10), F.lit(9)).cast("bigint").alias("bin"),
            y.alias("y"),
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos"))
    )


def _trained_quality_score(df):
    """Trained-classifier curation scoring core (r7): the bounded weight
    table embedded as in-plan array literals, scored per row by the
    stateless fold (operators.classify.trained_score_expr) — the form
    with_quality_score wires into the pipeline tick. Map-only, so it
    streams in append mode with bit parity (same expression, same
    per-row array order on both paths)."""
    from autonomous_orchestrator_ai_spark.operators.classify import (
        trained_score_expr,
    )

    weights = {b: ((b % 11) - 5) / 8.0 for b in range(0, 4096, 7)}
    return df.select(
        "doc_id",
        F.round(
            trained_score_expr("text", weights), 9
        ).alias("quality_score"),
    )


DOC_CORES = {
    "doc_text_stats": ("append", _doc_text_stats),
    "calibration_bins": ("complete", _calibration_bins),
    "trained_quality_score": ("append", _trained_quality_score),
}


@pytest.fixture(scope="module")
def sources(spark, tmp_path_factory):
    """Materialize the test tables once (registry.table normalizes the
    nanos timestamps), so batch and stream read the identical files."""
    base = tmp_path_factory.mktemp("parity-src")
    out = {}
    for name in ("events", "documents"):
        path = str(base / name)
        table(spark, SF_DIR, name).write.parquet(path)
        out[name] = path
    return out


def _run_stream(spark, tmp_path, src_path, core, mode):
    src_schema = spark.read.parquet(src_path).schema
    sdf = spark.readStream.schema(src_schema).parquet(src_path)
    out = core(sdf)
    if mode == "append":
        outdir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        q = (
            out.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.schema(out.schema).parquet(outdir)
    name = f"parity_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _canon(df):
    return sorted(tuple(str(v) for v in row) for row in df.collect())


@pytest.mark.parametrize("core_name", sorted(EVENT_CORES) + sorted(DOC_CORES))
def test_stream_batch_parity(spark, tmp_path, sources, core_name):
    table_name = "documents" if core_name in DOC_CORES else "events"
    mode, core = (DOC_CORES | EVENT_CORES)[core_name]
    batch_df = core(spark.read.parquet(sources[table_name]))
    stream_df = _run_stream(
        spark, tmp_path, sources[table_name], core, mode
    )
    assert stream_df.schema == batch_df.schema
    b, s = _canon(batch_df), _canon(stream_df)
    assert len(b) > 0
    assert b == s
