"""Sinks (reference S5/S8 quarantine, S10 retention, SURVEY.md §2.1), the
atomic publish of the tick's JSON documents and the one commit rule of its
append-only JSONL logs.

The S4 partitioned parquet sink is the streaming writer
``streaming.pipeline.run_bounded``, partitioned like the reference
(country, plan — ingest_transform.py:267).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame


def write_text_atomic(path: str | Path, text: str) -> None:
    """Publish ``text`` as the whole of ``path``: write a temp file in the
    same directory, fsync it, then ``os.replace`` it over ``path``. A crash
    at any point leaves either the previous document or the new one, never
    a torn mix (the rename is atomic on one filesystem). The temp file is
    created like ``path.write_text`` would create it, so the published
    file keeps the usual permissions."""
    path = Path(path)
    tmp = path.with_name(f".{path.name}.{uuid.uuid4().hex}.tmp")
    try:
        with tmp.open("x") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        tmp.unlink(missing_ok=True)
        raise


def append_jsonl(path: str | Path, rec: dict) -> None:
    """Append ``rec`` as one JSON line: the commit rule of every append-only
    log the tick writes (decisions, notifications, retrigger requests,
    incidents). A line is committed once its newline is written. A final
    line without one is an append a crash cut short: it never committed,
    so it is cut off before the new line goes on (else the two would fuse
    into one corrupt line)."""
    with Path(path).open("a+b") as f:
        size = f.seek(0, 2)
        if size:
            f.seek(size - 1)
            if f.read(1) != b"\n":
                f.seek(0)
                f.truncate(f.read().rfind(b"\n") + 1)
        f.write(json.dumps(rec).encode() + b"\n")


#: connector option keys the reference's writer builds
#: (ingest_transform.py:282-289); config must provide every one + "table"
_SNOWFLAKE_CONFIG_KEYS = (
    "account",
    "user",
    "password",
    "database",
    "schema",
    "warehouse",
    "role",
    "table",
)


def snowflake_sink_options(config: dict) -> dict:
    """Option map for the PUBLIC Snowflake Spark connector
    (spark-snowflake, format name "snowflake") exactly as the reference
    constructs it (ingest_transform.py:282-289)."""
    return {
        "sfUrl": f"{config['account']}.snowflakecomputing.com",
        "sfUser": config["user"],
        "sfPassword": config["password"],
        "sfDatabase": config["database"],
        "sfSchema": config["schema"],
        "sfWarehouse": config["warehouse"],
        "sfRole": config["role"],
    }


def foreach_batch_snowflake_sink(config: dict, save=None):
    """S5 proper: the reference's Snowflake foreachBatch writer
    (ingest_transform.py:273-305) on the public connector. Validates the
    config up front the way the reference gates sink selection
    (`all(config values)`, :366) so a half-configured sink fails at
    pipeline build, not mid-stream. Empty batches are skipped with
    ``isEmpty()`` (cheaper than the reference's count()>0, §4 note).

    ``save`` injects the terminal write for tests (the connector jar is
    absent in this container); when None, the real
    ``format("snowflake")`` write runs and raises Spark's clear
    ClassNotFound error if the jar is missing — same failure contract as
    the Kafka/Avro readers."""
    missing = [k for k in _SNOWFLAKE_CONFIG_KEYS if not (config or {}).get(k)]
    if missing:
        raise ValueError(f"incomplete snowflake config, missing: {missing}")
    opts = snowflake_sink_options(config)
    table = config["table"]

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if save is not None:
            save(batch_df, dict(opts), table)
            return
        (
            batch_df.write.format("snowflake")
            .options(**opts)
            .option("dbtable", table)
            .mode("append")
            .save()
        )

    return _write


def write_quarantine(quarantined: DataFrame, quarantine_dir: str) -> str:
    """Write the quarantined rows as ``records/`` into the directive's own
    directory, the one ``PipelineTools.quarantine_records`` created with
    its ``metadata.json`` (reference D8, agent/tools.py:136-177 — the
    reference only wrote the metadata; the record movement it deferred
    happens here). A directive's records are written once: a second write
    into the same directory raises. Returns the records path."""
    records = str(Path(quarantine_dir) / "records")
    quarantined.write.parquet(records)
    return records


#: the retention window of ``cleanup_old_data``, in days (reference C6).
RETENTION_DAYS = 7


def cleanup_old_data(base_path: str) -> list[str]:
    """Retention sweep (reference S10/C6, pipeline_dag.py:392-423): remove
    top-level entries older than ``RETENTION_DAYS``. For partitioned
    tables prefer dropping date partitions."""
    cutoff = time.time() - RETENTION_DAYS * 86400
    removed: list[str] = []
    base = Path(base_path)
    if not base.exists():
        return removed
    for entry in base.iterdir():
        if entry.stat().st_ctime < cutoff:
            shutil.rmtree(entry) if entry.is_dir() else entry.unlink()
            removed.append(str(entry))
    return removed


# ---------------------------------------------------------------------------
# Kafka produce path (the write twin of readers.decode_avro_values —
# reference kafka/produce_events.py publishes these
# wire bytes; the engine can now emit them too)
# ---------------------------------------------------------------------------


def encode_avro_values(
    df: DataFrame, avro_schema_json: str, value_cols: list[str] | None = None
) -> DataFrame:
    """No-jar Avro ENCODE: pack ``value_cols`` (default: every column
    except ``key``) of each row into Avro binary per the writer schema,
    via the vendored codec (sources.avro_codec.encode), Arrow-batched
    through ``mapInPandas``. Output is Kafka-producer-shaped —
    ``key: binary, value: binary`` — ready for a ``kafka`` sink's
    required columns, and round-trips bit-exactly through
    ``readers.decode_avro_values`` (tested). Unions/enums/nesting follow
    the codec's full surface, so the reference's v1/v2/v3 producer
    payloads (produce_events.py:149-164) are all emittable."""
    import pandas as pd
    from pyspark.sql import types as T

    from autonomous_orchestrator_ai_spark.sources.avro_codec import (
        default_value,
        encode,
        parse_schema,
    )

    schema = parse_schema(avro_schema_json)
    if schema.get("type") != "record":
        raise ValueError("top-level avro schema must be a record")
    cols = value_cols or [c for c in df.columns if c != "key"]
    # columns absent from the frame take the schema's declared defaults —
    # a v1-shaped frame emits valid v3 wire bytes, the producer-evolution
    # direction; fields with no default must be present
    field_names, defaults, missing = [], {}, []
    for f in schema["fields"]:
        if f["name"] in cols:
            field_names.append(f["name"])
        elif "default" in f:
            defaults[f["name"]] = default_value(f["type"], f["default"])
        else:
            missing.append(f["name"])
    if missing:
        raise ValueError(f"dataframe lacks schema fields {missing}")
    has_key = "key" in df.columns
    out_schema = T.StructType(
        [
            T.StructField("key", T.BinaryType()),
            T.StructField("value", T.BinaryType()),
        ]
    )

    def batches(it):
        for pdf in it:
            keys = (
                [None if k is None else bytes(k) for k in pdf["key"]]
                if has_key
                else [None] * len(pdf)
            )
            values = [
                encode(
                    schema,
                    {f: _py(pdf[f].iloc[i]) for f in field_names} | defaults,
                )
                for i in range(len(pdf))
            ]
            yield pd.DataFrame({"key": keys, "value": values})

    return df.mapInPandas(batches, schema=out_schema)


def _py(v):
    """numpy/pandas scalar -> plain Python for the avro codec (None for
    the missing-value sentinels pandas substitutes in object columns)."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and v != v:  # NaN marks a missing value here
        return None
    return v


def kafka_sink_options(
    brokers: str, topic: str, extra: dict | None = None
) -> dict:
    """Option surface for a Kafka writeStream/batch-write sink (public
    spark-sql-kafka connector; reference docker-compose.yml:30-70 broker).
    The jar is absent in this container, so like ``readers.kafka_stream``
    this exposes the exact production options without executing: use
    ``df.write.format("kafka").options(**kafka_sink_options(...))`` on a
    cluster with the package."""
    opts = {"kafka.bootstrap.servers": brokers, "topic": topic}
    if extra:
        opts.update(extra)
    return opts
