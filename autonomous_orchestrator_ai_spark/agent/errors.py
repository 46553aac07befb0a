"""Error-handling policy (reference spec tests/test_spark_jobs.py:462-495 —
there it's a self-asserting literal; here it's a dispatchable policy
table). No production code calls it: the pipeline driver does not
consult it on stage failure, and only tests exercise it."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ErrorPolicy:
    action: str                  # retry_with_backoff | log_and_continue | fail_job
    max_retries: int = 0
    backoff_seconds: float = 0.0
    quarantine: bool = False
    escalate: bool = False


#: The decision table (reference scenarios, made executable).
ERROR_POLICIES: dict[str, ErrorPolicy] = {
    "kafka_connection_failed": ErrorPolicy(
        "retry_with_backoff", max_retries=3, backoff_seconds=30.0
    ),
    "schema_parse_error": ErrorPolicy("log_and_continue", quarantine=True),
    "sink_write_failure": ErrorPolicy("fail_job", escalate=True),
    "dq_threshold_exceeded": ErrorPolicy("fail_job", escalate=True),
    "state_store_corruption": ErrorPolicy("fail_job", escalate=True),
    "executor_lost": ErrorPolicy("retry_with_backoff", max_retries=2, backoff_seconds=60.0),
}

DEFAULT_POLICY = ErrorPolicy("fail_job", escalate=True)


def classify_error(error_type: str) -> ErrorPolicy:
    """Unknown errors fail safe: fail_job + escalate."""
    return ERROR_POLICIES.get(error_type, DEFAULT_POLICY)


def should_retry(error_type: str, attempt: int) -> bool:
    policy = classify_error(error_type)
    return policy.action == "retry_with_backoff" and attempt < policy.max_retries
