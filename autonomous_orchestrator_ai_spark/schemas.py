"""Declared schemas.

The customer-event wire schema is declared twice in the reference and must
stay consistent (drift between them is a simulated failure mode):

- Avro: ``/root/reference/kafka/schemas/customer_events.avsc:6-70``
- Spark StructType: ``/root/reference/spark/jobs/ingest_transform.py:85-98``

Here there is exactly ONE declaration (``CUSTOMER_EVENTS_SCHEMA``); the Avro
shape is derivable from it. Epoch-millis longs are kept at the ingest
boundary (converted to TimestampType by the transform layer, see
``functions.temporal``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Customer events (the reference's primary stream)
# ---------------------------------------------------------------------------

#: v1 base schema. Reference: ingest_transform.py:85-98 (nullability per-field:
#: id/email/signup_ts/event_ts non-nullable).
CUSTOMER_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), nullable=False),
        T.StructField("name", T.StringType(), nullable=True),
        T.StructField("email", T.StringType(), nullable=False),
        T.StructField("signup_ts", T.LongType(), nullable=False),  # epoch millis
        T.StructField("country", T.StringType(), nullable=True),
        T.StructField("plan", T.StringType(), nullable=True),
        T.StructField("event_ts", T.LongType(), nullable=False),  # epoch millis
        T.StructField("version", T.IntegerType(), nullable=True),
    ]
)

#: Drifted fields by version (producer simulation: produce_events.py:149-164 —
#: v2 adds marketing_opt_in, v3 adds customer_segment).
DRIFT_FIELDS_BY_VERSION: dict[int, list[T.StructField]] = {
    2: [T.StructField("marketing_opt_in", T.BooleanType(), nullable=True)],
    3: [T.StructField("customer_segment", T.StringType(), nullable=True)],
}


def customer_events_schema(version: int = 1) -> T.StructType:
    """Schema at a given drift version (cumulative: v3 includes v2 fields)."""
    fields = list(CUSTOMER_EVENTS_SCHEMA.fields)
    for v in sorted(DRIFT_FIELDS_BY_VERSION):
        if version >= v:
            fields.extend(DRIFT_FIELDS_BY_VERSION[v])
    return T.StructType(fields)


#: Valid subscription plans (Avro enum customer_events.avsc:36-43).
VALID_PLANS = ["free", "basic", "premium", "enterprise"]

#: DQ-side 17-code country set (customers_expectation_suite.json:164).
DQ_COUNTRIES = [
    "US", "CA", "GB", "DE", "FR", "AU", "JP", "IN", "BR", "MX",
    "ES", "IT", "NL", "SE", "NO", "DK", "FI",
]

#: Email validity regex (ingest_transform.py:232 == expectation suite :69).
EMAIL_REGEX = r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$"

# ---------------------------------------------------------------------------
# Incidents relation (reference: ops/incident_store.py:41-57, SQLite)
# ---------------------------------------------------------------------------

INCIDENTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), nullable=False),
        T.StructField("incident_type", T.StringType(), nullable=False),
        T.StructField("summary", T.StringType(), nullable=True),
        T.StructField("context", T.StringType(), nullable=True),  # JSON string
        T.StructField("severity", T.StringType(), nullable=True),  # low|medium|high|critical
        T.StructField("status", T.StringType(), nullable=True),  # open|resolved
        T.StructField("created_at", T.TimestampType(), nullable=False),
        T.StructField("updated_at", T.TimestampType(), nullable=True),
        T.StructField("resolved_at", T.TimestampType(), nullable=True),
        T.StructField("escalated_at", T.TimestampType(), nullable=True),
        T.StructField("escalated", T.BooleanType(), nullable=True),
        T.StructField("resolution_notes", T.StringType(), nullable=True),
        T.StructField("created_by", T.StringType(), nullable=True),
    ]
)
