"""Skew- and layout-aware join/agg helpers (SURVEY.md 'Partitioning &
shuffle' guidance; AQE handles moderate skew automatically — these are the
explicit tools for when it doesn't, and for removing shuffles entirely).

- ``salted_aggregate``: two-phase aggregation over a salted key. A hot key
  that would pin one reducer is split across 8 partial groups,
  then partials combine in a second (tiny) aggregation. Works for any
  algebraic aggregate (sum/count/min/max — pass the partial and final
  specs).
- ``write_bucketed``: co-locate both sides of a repeated join on the join
  key at WRITE time so later joins are exchange-free (verified by
  tests/test_skew_bucketing.py asserting no shuffle in the plan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(
    df: DataFrame,
    key: str,
    n_salts: int,
    salt_col: str = "__salt",
    salt_by: str | None = None,
) -> DataFrame:
    """Deterministic per-row salt in [0, n_salts): hash-based (pmod of
    xxhash64 over the whole row's key + a disambiguator column when
    present) — deterministic, unlike rand(), so plans stay replayable.

    ``salt_by``: derive the salt from a SUB-KEY column instead of the
    per-row disambiguator. Every row sharing that sub-key value lands in
    the SAME salt partition, which makes COUNT(DISTINCT salt_by) (exact or
    approx_count_distinct) decompose across salts as a plain SUM of
    per-salt partials — the property that lets distinct aggregates ride
    the two-phase salt path without collecting value sets. Spread quality
    then depends on the sub-key's cardinality within each hot key (fine
    whenever the hot key is hot because MANY sub-keys hit it)."""
    if salt_by is not None:
        salt = F.pmod(F.xxhash64(F.col(salt_by)), F.lit(n_salts))
    else:
        salt = F.pmod(
            F.xxhash64(
                F.col(key), F.spark_partition_id(), F.monotonically_increasing_id()
            ),
            F.lit(n_salts),
        )
    return df.withColumn(salt_col, salt.cast("int"))


def salted_aggregate(
    df: DataFrame,
    key: str,
    partial_aggs: dict[str, Column],
    final_aggs: dict[str, Column],
    salt_by: str | None = None,
) -> DataFrame:
    """Two-phase agg over 8 salts: groupBy(key, salt) -> partials, then
    groupBy(key) -> combine. ``partial_aggs`` maps output-name -> agg
    Column over the raw rows; ``final_aggs`` maps final-name -> agg Column
    over the partial names. Example:

        salted_aggregate(ev, "user_id",
            {"cnt": F.count(F.lit(1)), "sum_v": F.sum("value")},
            {"n_events": F.sum("cnt"), "total": F.sum("sum_v")})

    Pass ``salt_by=<col>`` to partition the salt BY that column's hash:
    then ``count_distinct(<col>)`` / ``approx_count_distinct(<col>)``
    partials combine exactly via SUM (each value owns one salt), so even
    distinct aggregates stay bounded-state on the salt path."""
    salted = with_salt(df, key, 8, salt_by=salt_by)
    partial = salted.groupBy(key, "__salt").agg(
        *[c.alias(name) for name, c in partial_aggs.items()]
    )
    return partial.groupBy(key).agg(
        *[c.alias(name) for name, c in final_aggs.items()]
    )


#: file names Spark's datasource committer writes into a table location —
#: a directory containing ONLY these is a table dir this helper (or a
#: prior Spark write) owns and may safely clear on overwrite
_TABLE_DIR_ENTRY = (
    "part-",
    "_SUCCESS",
    "_committed",
    "_started",
    "_temporary",
    ".",  # .crc shadow files
)


def _looks_like_table_location(fs, location) -> bool:
    for status in fs.listStatus(location):
        name = status.getPath().getName()
        if not name.startswith(_TABLE_DIR_ENTRY):
            return False
    return True


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_key: str,
    n_buckets: int = 8,
    sort_by: str | None = None,
    path: str | None = None,
) -> None:
    """Persist with bucketing so subsequent equi-joins/aggs on
    ``bucket_key`` read co-located buckets and skip the exchange.

    ``path`` pins the table files to an explicit location (external
    table) instead of the session's warehouse dir — use it when the
    caller must control where data lands regardless of the session's cwd
    or warehouse config.

    Idempotent across SESSIONS, not just runs: a fresh session's
    in-memory catalog has no entry for the table, so ``overwrite`` alone
    trips LOCATION_ALREADY_EXISTS on the orphaned directory a previous
    session left behind — drop the catalog entry AND clear the leftover
    location first. The clear is GUARDED: an existing directory is only
    deleted if every entry in it looks like Spark table output
    (part files / _SUCCESS / committer markers) — i.e. an orphaned table
    location, not a directory holding unrelated data that a caller
    pointed ``path`` at (or a table name colliding with a foreign
    warehouse dir). Anything else raises: the caller clears it."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    location = (
        jvm.org.apache.hadoop.fs.Path(path)
        if path
        else jvm.org.apache.hadoop.fs.Path(warehouse, table_name.lower())
    )
    fs = location.getFileSystem(jsc.hadoopConfiguration())
    if fs.exists(location):
        if not _looks_like_table_location(fs, location):
            raise ValueError(
                f"refusing to clear {location}: it contains entries that are "
                "not Spark table output"
            )
        fs.delete(location, True)
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
