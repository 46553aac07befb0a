"""Z-order layout operator tests (operators/layout.py): key arithmetic
and bounds."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.layout import (
    column_bounds,
    zorder_key,
)


def test_zorder_key_interleaves_bits(spark):
    # bounds (0,3) with 2 bits: scaled value == raw value; col0 bits land at
    # even positions, col1 at odd
    df = spark.createDataFrame(
        [Row(x=x, y=y) for x in range(4) for y in range(4)]
    )
    rows = df.select(
        "x", "y", zorder_key(["x", "y"], [(0, 3), (0, 3)], bits=2).alias("z")
    ).collect()
    expect = {
        (0, 0): 0,
        (1, 0): 1,
        (0, 1): 2,
        (1, 1): 3,
        (2, 3): 0b1110,
        (3, 3): 0b1111,
    }
    got = {(r.x, r.y): r.z for r in rows}
    for k, v in expect.items():
        assert got[k] == v, (k, got[k], v)
    # the key is a bijection on the 4x4 grid
    assert sorted(got.values()) == list(range(16))


def test_column_bounds_and_degenerate_dim(spark):
    df = spark.createDataFrame([Row(a=i, c=7) for i in range(10)])
    assert column_bounds(df, ["a", "c"]) == [(0.0, 9.0), (7.0, 7.0)]
    # constant column contributes 0 bits, key still works
    z = df.select(zorder_key(["a", "c"], [(0, 9), (7, 7)], bits=4).alias("z"))
    assert z.distinct().count() == 10

