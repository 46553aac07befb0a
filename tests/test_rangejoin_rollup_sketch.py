"""Range join and sketch tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.rangejoin import range_join
from autonomous_orchestrator_ai_spark.operators.sketch import bloom_filter_semi_join


def test_range_join_matches_inequality_join(spark):
    """Bucketized range join == naive inequality join, including ranges that
    span multiple buckets and boundary-exact points."""
    points = spark.createDataFrame(
        [(i, f"2024-01-01 {h:02d}:{m:02d}:00") for i, (h, m) in
         enumerate([(0, 0), (0, 30), (1, 0), (2, 15), (5, 59), (23, 59)])],
        ["pid", "ts_str"],
    ).select("pid", F.to_timestamp("ts_str").alias("ts"))
    ranges = spark.createDataFrame(
        [
            (100, "2024-01-01 00:00:00", "2024-01-01 01:00:00"),   # [0,1h)
            (101, "2024-01-01 00:30:00", "2024-01-01 03:00:00"),   # spans 3 buckets
            (102, "2024-01-01 06:00:00", "2024-01-01 07:00:00"),   # empty
        ],
        ["rid", "s", "e"],
    ).select("rid", F.to_timestamp("s").alias("start"), F.to_timestamp("e").alias("end"))

    got = {
        (r["pid"], r["rid"])
        for r in range_join(points, ranges, "ts", "start", "end", bucket_seconds=3600).collect()
    }
    naive = {
        (r["pid"], r["rid"])
        for r in points.crossJoin(ranges)
        .filter((F.col("ts") >= F.col("start")) & (F.col("ts") < F.col("end")))
        .collect()
    }
    assert got == naive
    assert (0, 100) in got and (2, 101) in got
    assert (2, 100) not in got        # 01:00 excluded from [0,1h)


def test_bloom_filter_semi_join(spark):
    probe = spark.range(0, 10000).select(F.col("id").alias("k"))
    build = spark.range(0, 100).select(F.col("id").alias("k"))
    filtered = bloom_filter_semi_join(probe, build, "k", expected_items=1000)
    n = filtered.count()
    # all 100 true members pass; false-positive rate stays small
    assert 100 <= n < 100 + 10000 * 0.05
    true_members = filtered.filter(F.col("k") < 100).count()
    assert true_members == 100
