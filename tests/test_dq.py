"""DQ expectation-engine tests (reference spec tests/test_dq.py, against the
real single-pass Spark engine)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.dq import (
    DIMENSIONS,
    FIELD_REMAP,
    Expectation,
    dimension_scores,
    evaluate_param,
    run_suite,
)
from autonomous_orchestrator_ai_spark.operators.dq_suites import customers_suite
from autonomous_orchestrator_ai_spark.operators.transform import enrich_customer_events

NOW = datetime.fromisoformat("2024-01-15T01:00:00")


def _curated(events_fixture):
    return enrich_customer_events(
        events_fixture, processing_time=F.to_timestamp(F.lit("2024-01-15 01:00:00"))
    )


def _result_for(results, etype, column=None):
    for r in results:
        if r["expectation_type"] != etype:
            continue
        if column and r["kwargs"].get("column", r["kwargs"].get("column_A")) != column:
            continue
        return r
    raise AssertionError(f"no result for {etype}/{column}")


def test_suite_on_violation_fixture(events_fixture):
    curated = _curated(events_fixture)
    suite = customers_suite(freshness_window=False)
    out = run_suite(curated, suite, now=NOW, collect_examples=5)
    results = out["validations"][0]["results"]

    email = _result_for(results, "expect_column_values_to_match_regex", "email")
    assert email["success"] is False
    assert email["result"]["unexpected_count"] == 1
    assert email["result"]["element_count"] == 5
    assert email["result"]["unexpected_percent"] == 20.0
    assert email["result"]["partial_unexpected_list"] == ["invalid-email"]

    plan = _result_for(results, "expect_column_values_to_be_in_set", "plan")
    assert plan["result"]["unexpected_count"] == 1  # invalid_plan

    country = _result_for(results, "expect_column_values_to_be_in_set", "country")
    assert country["result"]["unexpected_count"] == 1  # INVALID

    signup = _result_for(results, "expect_column_values_to_be_between", "signup_timestamp")
    assert signup["result"]["unexpected_count"] == 1  # future signup

    pair = _result_for(
        results, "expect_column_pair_values_A_to_be_greater_than_or_equal_to_B"
    )
    # cust_005 event < signup; cust_004 future signup also makes event < signup
    assert pair["result"]["unexpected_count"] == 2

    unique = _result_for(results, "expect_column_values_to_be_unique", "id")
    assert unique["success"] is True

    exists = _result_for(results, "expect_column_to_exist", "id")
    assert exists["success"] is True

    types_ = _result_for(results, "expect_column_values_to_be_of_type", "signup_timestamp")
    assert types_["success"] is True  # TimestampType == datetime64[ns] alias

    stats = out["validations"][0]["statistics"]
    assert stats["evaluated_expectations"] == len(suite)
    assert stats["unsuccessful_expectations"] == 5
    assert out["summary"]["failure_count"] == 5


def test_uniqueness_detects_dupes(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",)], ["id"])
    out = run_suite(df, [Expectation("expect_column_values_to_be_unique", {"column": "id"})])
    r = out["validations"][0]["results"][0]
    assert r["success"] is False
    assert r["result"]["unexpected_count"] == 1


def test_nulls_are_skipped_except_not_null(spark):
    """GE semantics: NULL is not 'unexpected' for value checks."""
    df = spark.createDataFrame([(None,), ("free",)], "plan: string")
    out = run_suite(
        df,
        [
            Expectation("expect_column_values_to_be_in_set",
                        {"column": "plan", "value_set": ["free"]}),
            Expectation("expect_column_values_to_not_be_null", {"column": "plan"}),
        ],
    )
    rs = out["validations"][0]["results"]
    assert rs[0]["result"]["unexpected_count"] == 0
    assert rs[1]["result"]["unexpected_count"] == 1


def test_dynamic_params():
    now = datetime(2024, 1, 15, 12, 0, 0)
    assert evaluate_param("now", now) == now
    assert evaluate_param("now-24h", now) == datetime(2024, 1, 14, 12, 0, 0)
    assert evaluate_param("now-7d", now) == datetime(2024, 1, 8, 12, 0, 0)
    assert evaluate_param(5, now) == 5
    assert evaluate_param("2020-01-01T00:00:00", now) == "2020-01-01T00:00:00"


def test_freshness_window(spark):
    df = spark.createDataFrame(
        [("2024-01-15 00:00:00",), ("2024-01-10 00:00:00",)], ["s"]
    ).select(F.to_timestamp("s").alias("event_timestamp"))
    out = run_suite(
        df,
        [Expectation("expect_column_values_to_be_between",
                     {"column": "event_timestamp", "min_value": "now-24h", "max_value": "now"})],
        now=NOW,
    )
    assert out["validations"][0]["results"][0]["result"]["unexpected_count"] == 1


def test_dimension_rollup(events_fixture):
    curated = _curated(events_fixture)
    out = run_suite(curated, customers_suite(freshness_window=False), now=NOW)
    dims = dimension_scores(out)
    assert set(dims["dimensions"]) == set(DIMENSIONS)
    assert dims["dimensions"]["completeness"] == 1.0
    assert dims["dimensions"]["uniqueness"] == 1.0
    assert dims["dimensions"]["consistency"] == 0.0  # the pair rule fails
    assert 0.0 < dims["overall_score"] < 1.0


def test_field_remap(spark):
    df = spark.createDataFrame([(1, "x")], ["customer_id", "customer_name"])
    assert df.withColumnsRenamed(FIELD_REMAP).columns == ["id", "name"]
