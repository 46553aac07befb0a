"""Temporal scalar functions (reference F1/F2/F5/F6, SURVEY.md §2.8).

Reference: /root/reference/spark/jobs/ingest_transform.py:164-225.

Deviation documented per SURVEY.md §7.4: the reference converts epoch millis
with ``from_unixtime(ms/1000)`` which truncates to SECOND precision
(ingest_transform.py:168-173). The engine keeps millisecond timestamps
(``timestamp_millis``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Watermark / late-arrival threshold (ingest_transform.py:214, 350;
#: airflow/include/config.yml:46).
LATE_THRESHOLD_MINUTES = 15
WATERMARK_DELAY = "15 minutes"


def millis_to_timestamp(col: Column | str) -> Column:
    """Epoch-millis long -> TimestampType, millis kept (reference F1)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.timestamp_millis(col)


def with_event_timestamps(
    df: DataFrame,
    processing_time: Column | None = None,
) -> DataFrame:
    """Derive signup_timestamp / event_timestamp / processing_timestamp.

    Reference: ingest_transform.py:164-179. ``processing_time`` defaults to
    ``current_timestamp()``; tests/oracles inject a literal so results are
    deterministic (SURVEY.md §7.4 non-determinism note).
    """
    if processing_time is None:
        processing_time = F.current_timestamp()
    return (
        df.withColumn("signup_timestamp", millis_to_timestamp("signup_ts"))
        .withColumn("event_timestamp", millis_to_timestamp("event_ts"))
        .withColumn("processing_timestamp", processing_time)
    )


def late_arrival_flag(event_ts: Column | str, processing_ts: Column | str) -> Column:
    """is_late_arrival := unix(processing) - unix(event) >
    LATE_THRESHOLD_MINUTES*60.

    Reference P9: ingest_transform.py:211-225. Semantics are *annotate,
    never filter* — late rows are flagged and kept (T2).
    """
    event_ts = F.col(event_ts) if isinstance(event_ts, str) else event_ts
    processing_ts = F.col(processing_ts) if isinstance(processing_ts, str) else processing_ts
    return (
        F.unix_timestamp(processing_ts) - F.unix_timestamp(event_ts)
        > LATE_THRESHOLD_MINUTES * 60
    )


def customer_age_days(processing_ts: Column | str, signup_ts: Column | str) -> Column:
    """datediff(processing_timestamp, signup_timestamp) (reference F5,
    ingest_transform.py:203-207)."""
    processing_ts = F.col(processing_ts) if isinstance(processing_ts, str) else processing_ts
    signup_ts = F.col(signup_ts) if isinstance(signup_ts, str) else signup_ts
    return F.datediff(processing_ts, signup_ts)
