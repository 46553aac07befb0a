"""Range (interval) join — the second custom join Spark lacks natively
(guide 'Common OLAP patterns': bucketize the range key + equi-join on
bucket + filter).

A naive point-in-range join is a cross product with an inequality filter —
O(n*m). Here each range explodes into the fixed-width buckets it covers and
points join on their bucket — the join becomes equi (hash, shuffle on
bucket) and the residual inequality filter runs only within bucket-matched
pairs. Bucket width trades replication (ranges spanning many buckets) for
selectivity; choose ~ median range length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def range_join(
    points: DataFrame,
    ranges: DataFrame,
    point_ts: str,
    range_start: str,
    range_end: str,
    bucket_seconds: int,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Inner-join each point row to every range row with
    ``range_start <= point_ts < range_end`` (+ optional equi keys).

    Returns points columns + ranges columns (caller aliases beforehand to
    avoid collisions)."""
    extra_keys = extra_keys or []

    p = points.withColumn(
        "__bucket", F.floor(F.unix_timestamp(F.col(point_ts)) / bucket_seconds)
    )
    r = ranges.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(range_start)) / bucket_seconds),
                # end is exclusive, but a range ending exactly on a bucket
                # boundary still owns that bucket's opening instant's bucket-1;
                # ceil-via-floor on (end - 1microsecond) keeps replication
                # minimal while preserving [start, end) semantics
                F.floor(
                    (F.unix_timestamp(F.col(range_end)) * F.lit(1000000) - 1)
                    / F.lit(bucket_seconds * 1000000)
                ),
            )
        ),
    )
    on = ["__bucket"] + extra_keys
    joined = p.join(r, on=on, how="inner").filter(
        (F.col(point_ts) >= F.col(range_start)) & (F.col(point_ts) < F.col(range_end))
    )
    return joined.drop("__bucket")
