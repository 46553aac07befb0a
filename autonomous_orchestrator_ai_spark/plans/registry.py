"""Query/oracle registry.

Each registered query is ``fn(spark, sf_dir) -> DataFrame``; the optional
oracle is an ANSI-SQL string DuckDB runs over the same parquet tables
(pre-registered views). Column names are aliased identically on both sides —
the driver's compare sorts columns by name before hashing.

Determinism rules every query here follows:
- no ``current_timestamp()``/``rand()`` — "now" is an injected literal
  (``plans.constants.NOW``);
- float aggregates rounded (2dp money, 4-6dp rates/scores) so engine-order
  float addition differences vanish below the hash;
- any LIMIT is preceded by a total order with a unique tie-break key;
- timestamps leaving a query are formatted to strings (session-TZ proof).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]


def exact_money_sum(expr) -> F.Column:
    """Order-independent money sum: accumulate as DECIMAL(18,4) — lossless
    for this dataset (every money/qty/value column is exactly <=4dp) and
    exact under any summation order — round to cents, return double.
    ROUND(SUM(double), 2) is summation-order-dependent at the half-cent
    boundary (~3/1000 groups flip between Spark and DuckDB at sf0.01), and
    the driver's session parallelism is unknown, so every money sum in an
    oracle-checked query must go through this. Oracle-side mirror:
    CAST(ROUND(SUM(CAST(x AS DECIMAL(18,4))), 2) AS DOUBLE)."""
    return F.round(F.sum(expr.cast("decimal(18,4)")), 2).cast("double")

QUERIES: dict[str, QueryFn] = {}
#: str oracles are static SQL; callable oracles are ``fn(sf_dir) -> str``
#: for queries whose EXACT semantics adapt to corpus size (e.g. the LSH
#: screen's auto-sized plane count) — resolve with ``resolve_oracle``
ORACLES: dict[str, str | Callable[[str], str]] = {}

_LOADED = False


def register(name: str, oracle: str | Callable[[str], str] | None = None):
    """Register a named query and (optionally) its DuckDB oracle.

    ``oracle`` is usually a static ANSI-SQL string. It may instead be a
    callable ``fn(sf_dir) -> str`` when the query's deterministic
    parameters are a function of the corpus (auto-sized LSH planes): the
    harness resolves it against the sf directory it is actually checking,
    so Spark and DuckDB derive the same configuration at EVERY scale.
    The driver contract (__spark_entry__.oracle_sql) resolves callables
    at the driver's fixed comparison scale, sf0.01."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def resolve_oracle(name: str, sf_dir: str) -> str | None:
    """The oracle SQL for ``name`` at ``sf_dir`` (callables resolved),
    or None if the query has no SQL oracle."""
    o = ORACLES.get(name)
    if o is None:
        return None
    return o(sf_dir) if callable(o) else o


def load_all() -> None:
    """Import every query module (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from autonomous_orchestrator_ai_spark.plans import (  # noqa: F401
        bpe_queries,
        curation_queries,
        dedup_queries,
        dq_queries,
        extended_queries,
        fuzzy_queries,
        graph_queries,
        kmv_queries,
        layout_queries,
        lm_queries,
        ml_queries,
        pipeline_queries,
        scoring_queries,
        similarity_queries,
        sketch_queries,
        snapshot_queries,
        span_queries,
        text_queries,
        timeseries_queries,
        tpch,
        tpch_extra,
        window_queries,
    )

    _LOADED = True


#: (id(session), sf_dir, name) -> DataFrame. DataFrames are immutable
#: plans, so handing back the same object is safe; the cache saves the
#: ~100 ms of conf round-trips + footer/schema read that EVERY query's
#: table() calls would otherwise repeat (the bench runs 40+ queries x 2
#: passes against the same static testdata). Keyed by the session OBJECT
#: (not applicationId): a newSession() clone shares the applicationId but
#: has its own SQLConf and temp-view catalog, so a plan cached under the
#: parent must never be handed to the clone — its UTC/nanos re-pin and
#: register_views would otherwise land on the wrong session. The hit is
#: double-checked against df.sparkSession in case id() is ever reused
#: after a session is garbage-collected.
_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Pin UTC on whatever session the driver hands us: window alignment and
    # date_format rendering must match the (TZ-naive) DuckDB oracle.
    # Re-pinned on EVERY call (even cache hits — it's ~1ms): a caller may
    # have drifted the conf, or handed us a newSession() clone that shares
    # the applicationId but has its own SQLConf.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The driver's events.parquet stores TIMESTAMP(NANOS), which Spark's
    # parquet reader rejects; read nanos as long and truncate to micros
    # (exactly what DuckDB's ns->us conversion does).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (id(spark), sf_dir, name)
    hit = _TABLE_CACHE.get(key)
    if hit is not None and hit.sparkSession is spark:
        return hit
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    _TABLE_CACHE[key] = df
    return df


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of a source table from its parquet FOOTER — pure
    driver-side metadata, no Spark job (r10, guide §1.2: the sizing
    count() jobs were fixed per-query overhead). Parquet's num_rows is
    exact by format contract, so this is bit-identical to ``count()`` on
    the raw scan — and it is the SAME number the callable DuckDB oracles
    derive (``SELECT COUNT(*) FROM '....parquet'`` is answered from the
    same footer), so every routing decision priced on it stays
    engine-identical. A dataset directory is walked recursively, so a
    hive-partitioned ``k=v/part-*`` layout counts every file Spark scans.
    Raw source tables only: a filtered/derived frame must keep using
    ``count()``. Not cached: one footer read is ~1 ms,
    and memoizing anything keyed on the data dir across bench passes is
    out of contract."""
    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    if not os.path.isdir(path):
        return pq.ParquetFile(path).metadata.num_rows

    # Spark's file index skips names starting with "_" or "." (_SUCCESS,
    # _metadata, .crc checksums)
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d[0] not in "_."]
        total += sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for f in files
            if f[0] not in "_."
        )
    return total


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so queries can be
    written in pure ``spark.sql`` — the second half of the DataFrame/SQL
    surface. Views are lazy (no scan happens here) and carry the same
    nanos-timestamp normalization as ``table``."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
