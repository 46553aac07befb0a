"""functions/literals.py: model constants as one parsed SQL literal, and
driver rows as one local relation, must round-trip exactly and keep their
type."""

from __future__ import annotations

import struct

import pytest

from autonomous_orchestrator_ai_spark.functions.literals import (
    array_literal,
    local_relation,
    sql_array,
)

DOUBLES = [
    0.0,
    -0.0,
    5e-324,
    -5e-324,
    1e-09,
    -1e-09,
    0.1,
    -2.5,
    1.7976931348623157e308,
    -1.7976931348623157e308,
]


def _collect(spark, col):
    df = spark.range(1).select(col.alias("a"))
    return df.schema["a"].dataType.simpleString(), df.collect()[0]["a"]


def test_doubles_round_trip_bit_for_bit(spark):
    typ, got = _collect(spark, array_literal(DOUBLES, "double"))
    assert typ == "array<double>"
    assert [struct.pack("<d", x) for x in got] == [
        struct.pack("<d", x) for x in DOUBLES
    ]


def test_bigint_bounds_round_trip(spark):
    values = [-(2**63), -1, 0, 1, 2**31, 2**63 - 1]
    typ, got = _collect(spark, array_literal(values, "bigint"))
    assert typ == "array<bigint>"
    assert got == values


@pytest.mark.parametrize("elem_type", ["bigint", "double"])
def test_empty_list_keeps_its_type(spark, elem_type):
    typ, got = _collect(spark, array_literal([], elem_type))
    assert typ == f"array<{elem_type}>"
    assert got == []


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_non_finite_double_raises(bad):
    with pytest.raises(ValueError):
        sql_array([1.0, bad], "double")


def test_nested_sequences_render_as_nested_arrays():
    assert sql_array([[1, 2.5], [-0.0]], "double") == (
        "array(array(1.0D,2.5D),array(-0.0D))"
    )
    assert sql_array([3, -4], "bigint") == "array(3L,-4L)"


ROWS = [
    (-(2**63), -0.0, "it's"),
    (2**63 - 1, 5e-324, "back\\slash \\' \\\\"),
    (0, -1.7976931348623157e308, "unicode é ✓ 𝄞"),
    (1, 1e-09, "unit\x1fsep"),
    (None, None, None),
]


def test_local_relation_round_trips_exactly(spark):
    df = local_relation(spark, ROWS, "i bigint, d double, s string")
    assert df.schema.simpleString() == "struct<i:bigint,d:double,s:string>"
    got = [tuple(r) for r in df.collect()]
    assert [r[0] for r in got] == [r[0] for r in ROWS]
    assert [r[2] for r in got] == [r[2] for r in ROWS]
    assert [None if x is None else struct.pack("<d", x) for _, x, _ in got] == [
        None if x is None else struct.pack("<d", x) for _, x, _ in ROWS
    ]


def test_local_relation_of_zero_rows_is_typed_and_empty(spark):
    df = local_relation(spark, [], "merge_rank int, a string")
    assert df.schema.simpleString() == "struct<merge_rank:int,a:string>"
    assert df.collect() == []


def test_local_relation_plans_no_python_rdd(spark):
    """The rows live in the JVM: scanning them runs no Python worker."""
    for rows in (ROWS, []):
        df = local_relation(spark, rows, "i bigint, d double, s string")
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan
        explained = df._jdf.queryExecution().toString()
        assert "LogicalRDD" not in explained and "ExistingRDD" not in explained


def test_local_relation_rejects_values_that_do_not_fit(spark):
    with pytest.raises(Exception, match="out of bounds|overflow|Integer value"):
        local_relation(spark, [(2**31,)], "n int")
    with pytest.raises(ValueError, match="2 values"):
        local_relation(spark, [(1, "a"), (2,)], "n bigint, s string")
