"""Readers (reference S1/S2, SURVEY.md §2.1; S7 is ``plans.registry.table``).

Kafka requires the spark-sql-kafka package on the classpath; in this
container it is absent, so the Kafka readers raise a clear error at call time
and everything else works. The JSON-lines reader doubles as the test-harness
stand-in for a Kafka value stream (same envelope shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """Kafka streaming scan (reference S1, ingest_transform.py:100-111)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
        .load()
    )


def parse_avro_value(df: DataFrame, avro_schema_json: str) -> DataFrame:
    """Avro decode of the Kafka value (the reference's actual wire format,
    kafka/schemas/customer_events.avsc). Requires the spark-avro package on
    the classpath — absent in this container, so this raises a clear error
    at call time; the JSON path (parse_kafka_messages) is the tested route,
    exactly as the reference itself reads the topic as JSON
    (ingest_transform.py:117-118)."""
    try:
        from pyspark.sql.avro.functions import from_avro
    except ImportError as exc:  # pragma: no cover
        raise ImportError("pyspark avro functions unavailable") from exc
    parsed = df.select(
        F.col("key").cast("string").alias("kafka_key"),
        F.col("timestamp").alias("kafka_timestamp"),
        F.col("offset").alias("kafka_offset"),
        F.col("partition").alias("kafka_partition"),
        from_avro(F.col("value"), avro_schema_json).alias("data"),
    )
    return parsed.select(
        "kafka_key", "kafka_timestamp", "kafka_offset", "kafka_partition", "data.*"
    )


def _union_non_null(schema: list) -> list:
    return [b for b in schema if not (isinstance(b, str) and b == "null")]


def _union_tags(non_null: list) -> set[str]:
    from autonomous_orchestrator_ai_spark.sources.avro_codec import _type_of

    return {_type_of(b) for b in non_null}


def _avro_to_spark_type(schema) -> T.DataType:
    """Avro type node -> Spark type, mirroring spark-avro's PUBLIC union
    mapping so the jar and no-jar decode paths stay drop-in
    interchangeable: ["null", T] -> nullable T; [int, long] -> long;
    [float, double] -> double; any other multi-branch union -> a struct
    with one nullable ``memberN`` field per non-null branch (only the
    branch the writer took is populated). timestamp-millis stays a
    LongType at the ingest boundary, matching CUSTOMER_EVENTS_SCHEMA
    (conversion is functions.temporal's job)."""
    if isinstance(schema, list):  # union
        non_null = _union_non_null(schema)
        if len(non_null) == 1:
            return _avro_to_spark_type(non_null[0])
        tags = _union_tags(non_null)
        if tags <= {"int", "long"}:
            return T.LongType()
        if tags <= {"float", "double"}:
            return T.DoubleType()
        return T.StructType(
            [
                T.StructField(f"member{i}", _avro_to_spark_type(b))
                for i, b in enumerate(non_null)
            ]
        )
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "enum":
            return T.StringType()
        if t == "fixed":
            return T.BinaryType()
        if t == "array":
            return T.ArrayType(_avro_to_spark_type(schema["items"]))
        if t == "map":
            return T.MapType(T.StringType(), _avro_to_spark_type(schema["values"]))
        if t == "record":
            return T.StructType(
                [
                    T.StructField(f["name"], _avro_to_spark_type(f["type"]))
                    for f in schema["fields"]
                ]
            )
        schema = t  # logical-typed primitive, e.g. {"type": "long", ...}
    return {
        "string": T.StringType(),
        "long": T.LongType(),
        "int": T.IntegerType(),
        "boolean": T.BooleanType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "bytes": T.BinaryType(),
    }[schema]


def _avro_to_spark_value(schema, value):
    """Shape a codec-decoded Python value (``decode(..., mark_unions=True)``)
    into the structure ``_avro_to_spark_type`` promises: member-struct
    dicts for multi-branch unions, recursing through records/arrays/maps.
    Primitives pass through untouched (the common path costs one isinstance
    check)."""
    if value is None:
        return None
    if isinstance(schema, list):
        non_null = _union_non_null(schema)
        if len(non_null) == 1:
            return _avro_to_spark_value(non_null[0], value)
        if _union_tags(non_null) <= {"int", "long"} or _union_tags(non_null) <= {
            "float",
            "double",
        }:
            return value
        idx, inner = value  # marked by decode(mark_unions=True)
        branch = schema[idx]
        pos = next(i for i, b in enumerate(non_null) if b is branch)
        return {
            f"member{i}": (_avro_to_spark_value(branch, inner) if i == pos else None)
            for i in range(len(non_null))
        }
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return {
                f["name"]: _avro_to_spark_value(f["type"], value[f["name"]])
                for f in schema["fields"]
            }
        if t == "array":
            return [_avro_to_spark_value(schema["items"], v) for v in value]
        if t == "map":
            return {
                k: _avro_to_spark_value(schema["values"], v)
                for k, v in value.items()
            }
        if t in ("bytes", "fixed"):
            return bytes(value)
    if isinstance(value, bytearray):
        return bytes(value)
    return value


def decode_avro_values(
    df: DataFrame,
    avro_schema_json: str,
    reader_schema_json: str | None = None,
) -> DataFrame:
    """No-jar Avro decode of the Kafka ``value`` column via the vendored
    pure-Python codec (sources.avro_codec), Arrow-batched through
    ``mapInPandas``. Same output contract as ``parse_avro_value`` (kafka
    envelope columns + flattened record fields) so the two are drop-in
    interchangeable; use the JVM spark-avro route whenever the jar is
    available — this fallback pays per-record Python decode and exists so
    S2's real wire format is exercisable in jar-less environments.

    ``reader_schema_json`` enables schema evolution (the reference's
    v2/v3 producer story, produce_events.py:149-164): bytes written with
    ``avro_schema_json`` (the writer schema) are resolved into the
    reader's shape — reader-only fields take their defaults, writer-only
    fields are dropped, primitives promote — and the OUTPUT schema is the
    reader's, exactly like spark-avro's ``avroSchema`` option."""
    import pandas as pd

    from autonomous_orchestrator_ai_spark.sources.avro_codec import (
        decode,
        decode_resolved,
        parse_schema,
    )

    writer_schema = parse_schema(avro_schema_json)
    record_schema = (
        parse_schema(reader_schema_json) if reader_schema_json else writer_schema
    )
    data_type = _avro_to_spark_type(record_schema)
    if not isinstance(data_type, T.StructType):
        raise ValueError("top-level avro schema must be a record")
    out_schema = T.StructType(
        [
            T.StructField("kafka_key", T.StringType()),
            T.StructField("kafka_timestamp", T.TimestampType()),
            T.StructField("kafka_offset", T.LongType()),
            T.StructField("kafka_partition", T.IntegerType()),
            *data_type.fields,
        ]
    )
    field_names = [f.name for f in data_type.fields]

    if reader_schema_json:
        def _decode_one(v):
            return decode_resolved(
                writer_schema, record_schema, bytes(v), mark_unions=True
            )
    else:
        def _decode_one(v):
            return decode(record_schema, bytes(v), mark_unions=True)

    def batches(it):
        for pdf in it:
            decoded = [
                _avro_to_spark_value(record_schema, _decode_one(v))
                for v in pdf["value"]
            ]
            out = pd.DataFrame(
                {
                    "kafka_key": [
                        None if k is None else bytes(k).decode("utf-8", "replace")
                        for k in pdf["key"]
                    ],
                    "kafka_timestamp": pdf["timestamp"].values,
                    "kafka_offset": pdf["offset"].values,
                    "kafka_partition": pdf["partition"].values,
                }
            )
            for name in field_names:
                out[name] = [r[name] for r in decoded]
            yield out

    return df.mapInPandas(batches, schema=out_schema)


KAFKA_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)


def jsonl_as_kafka_envelope(
    spark: SparkSession, path: str, streaming: bool = False
) -> DataFrame:
    """Read a JSON-lines file and present it in the Kafka envelope shape
    (binary key/value + topic/partition/offset/timestamp, the key being the
    record's ``id``) so the full parse pipeline is testable without a
    broker (reference S3's role in tests)."""
    reader = spark.readStream if streaming else spark.read
    raw = reader.text(path)
    return raw.select(
        F.get_json_object(F.col("value"), "$.id").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.lit("test-topic").alias("topic"),
        F.spark_partition_id().alias("partition"),
        # pseudo-offset: stable per record; monotonically_increasing_id is
        # not allowed in streaming plans
        F.xxhash64(F.col("value")).alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
