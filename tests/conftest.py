from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from autonomous_orchestrator_ai_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = tmp_path_factory.mktemp("spark-warehouse")
    s = get_spark(
        "aoe-tests",
        cpus=4,
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s


@pytest.fixture()
def one_partition_vectors(spark):
    """(vec_id, 2-dim embedding) rows in one partition, fewer partitions
    than the session's cores."""
    from pyspark.sql import functions as F

    return spark.range(0, 40, 1, 1).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )


@pytest.fixture()
def events_fixture(spark):
    """The violation-seeded 5-row fixture (FIXTURES.md §1; pattern from
    reference tests/test_dq.py:22-49): exactly one violation per DQ rule."""
    from pyspark.sql import Row

    def ms(iso: str) -> int:
        from datetime import datetime, timezone

        return int(
            datetime.fromisoformat(iso).replace(tzinfo=timezone.utc).timestamp() * 1000
        )

    rows = [
        Row(id="cust_001", name="John", email="john@example.com",
            signup_ts=ms("2023-01-01T00:00:00"), country="US", plan="free",
            event_ts=ms("2024-01-15T00:00:00"), version=1),
        Row(id="cust_002", name="Jane", email="jane@example.com",
            signup_ts=ms("2023-06-15T00:00:00"), country="CA", plan="premium",
            event_ts=ms("2024-01-15T00:00:00"), version=1),
        Row(id="cust_003", name="Bob", email="invalid-email",
            signup_ts=ms("2023-12-01T00:00:00"), country="INVALID", plan="invalid_plan",
            event_ts=ms("2024-01-15T00:00:00"), version=1),
        Row(id="cust_004", name="Alice", email="alice@example.com",
            signup_ts=ms("2025-01-01T00:00:00"), country="GB", plan="basic",
            event_ts=ms("2024-01-15T00:00:00"), version=1),
        Row(id="cust_005", name="Charlie", email="charlie@example.com",
            signup_ts=ms("2023-08-20T00:00:00"), country="US", plan="enterprise",
            event_ts=ms("2023-05-01T00:00:00"), version=1),
    ]
    return spark.createDataFrame(rows)


@pytest.fixture()
def routes(caplog):
    """``routes(name)`` -> the ``route`` fields of every record named
    ``name`` emitted so far in the test (``routes.clear()`` forgets them)."""
    import logging

    from autonomous_orchestrator_ai_spark.routes import LOGGER

    caplog.set_level(logging.INFO, logger=LOGGER.name)

    def of(name: str) -> list[dict]:
        return [
            r.route for r in caplog.records
            if r.name == LOGGER.name and r.route["name"] == name
        ]

    of.clear = caplog.clear
    return of
