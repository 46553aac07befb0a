"""Data-layout queries (operators/layout.py) — the Z-order key verified
bit-for-bit against a DuckDB replica of the same shift/mask arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.layout import (
    column_bounds,
    zorder_key,
)
from autonomous_orchestrator_ai_spark.operators.partitioning import (
    ensure_min_parallelism,
)
from autonomous_orchestrator_ai_spark.plans.registry import register, table

_BITS = 12
_MAXC = (1 << _BITS) - 1

# bit b of scaled column i -> key position b*2 + i (two columns)
_INTERLEAVE_SQL = " | ".join(
    f"(((s{i} >> {b}) & 1) << {b * 2 + i})"
    for b in range(_BITS)
    for i in (0, 1)
)

_SCALE_SQL = """
    CAST(LEAST(GREATEST(FLOOR((CAST({col} AS DOUBLE) - mn{i}) * {maxc}
                              / (mx{i} - mn{i})), 0), {maxc}) AS BIGINT)
""".strip()


@register(
    "zorder_curve_sample",
    oracle=f"""
    WITH b AS (
      SELECT CAST(MIN(user_id) AS DOUBLE) AS mn0, CAST(MAX(user_id) AS DOUBLE) AS mx0,
             CAST(MIN(value) AS DOUBLE) AS mn1, CAST(MAX(value) AS DOUBLE) AS mx1
      FROM events),
    s AS (
      SELECT event_id,
             {_SCALE_SQL.format(col="user_id", i=0, maxc=_MAXC)} AS s0,
             {_SCALE_SQL.format(col="value", i=1, maxc=_MAXC)} AS s1
      FROM events, b)
    SELECT event_id, CAST({_INTERLEAVE_SQL} AS BIGINT) AS zval
    FROM s ORDER BY zval, event_id LIMIT 50
    """,
)
def zorder_curve_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order clustering key (operators.layout.zorder_key) on events
    (user_id, value): the 50 events nearest the curve origin. The oracle
    recomputes the min-max scaling + bit interleave in DuckDB — the key is
    engine-exact integer arithmetic, which is what makes the layout
    reproducible across writers."""
    events = ensure_min_parallelism(table(spark, sf_dir, "events"))
    bounds = column_bounds(events, ["user_id", "value"])
    z = zorder_key(["user_id", "value"], bounds, _BITS)
    return (
        events.select("event_id", z.alias("zval"))
        .orderBy("zval", "event_id")
        .limit(50)
    )


@register(
    "bucketed_join_revenue",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shuffle-elimination chapter: lineitem and orders are
    persisted BUCKETED on orderkey (operators.skew.write_bucketed —
    bucketBy + sortBy + saveAsTable), so the fact-fact join reads
    co-located, pre-sorted buckets and the SortMergeJoin needs NO
    Exchange on either side (asserted on real data in
    tests/test_skew_bucketing.py::test_bucketed_join_revenue_plan; the
    merge hint pins the join strategy so the demonstration doesn't
    degenerate into a broadcast at toy scale). On a cluster this is the
    one-time layout investment that converts every subsequent
    orderkey-join or orderkey-agg into a local operation — at 100 TB the
    lineitem⋈orders shuffle IS the bottleneck, and this removes it.

    This query measures the READ path — the exchange-free join every
    subsequent query pays, which is the number the layout chapter
    actually claims. The layout investment itself is the explicit SETUP
    FIXTURE ``build_bucketed_layout`` (run here only if this session
    hasn't built the tables yet; under bench.py's min-of-N protocol pass
    1 builds and later passes are pure reads, so the reported min is the
    read-path cost). The aggregation after the join is exact decimal
    money arithmetic, oracle-checked against the plain parquet join."""
    li_tbl, ord_tbl = _bucket_demo_names(sf_dir)
    if not (
        spark.catalog.tableExists(li_tbl) and spark.catalog.tableExists(ord_tbl)
    ):
        build_bucketed_layout(spark, sf_dir)
    return _bucketed_revenue_agg(spark, li_tbl, ord_tbl)


def _bucket_demo_names(sf_dir: str) -> tuple[str, str]:
    import hashlib as _hashlib

    tag = _hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return f"bktdemo_lineitem_{tag}", f"bktdemo_orders_{tag}"


def _bucket_demo_base(spark: SparkSession) -> str:
    """Where the demo tables' files land: $SPARK_GRAFT_WAREHOUSE if set,
    else the session's own warehouse dir — never a hardcoded absolute
    path, so the demo works on any checkout/machine (ADVICE r4)."""
    import os

    return (
        os.environ.get("SPARK_GRAFT_WAREHOUSE")
        or spark.conf.get("spark.sql.warehouse.dir")
    )


#: demo-table column DDL, used to re-register an ALREADY-WRITTEN layout in
#: a fresh session's in-memory catalog without re-paying the write (the
#: files carry the bucket spec in their names; CLUSTERED BY restates it)
_DEMO_DDL_COLS = {
    "lineitem": "l_orderkey BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE",
    "orders": "o_orderkey BIGINT, o_orderpriority STRING",
}


def _local_path(uri: str) -> str:
    """file:/x or file:///x -> /x (warehouse dirs are local in this
    container; non-file schemes pass through untouched)."""
    if uri.startswith("file:"):
        rest = uri[len("file:"):]
        while rest.startswith("//"):
            rest = rest[1:]
        return rest
    return uri


def _layout_on_disk(base: str, tbl: str) -> bool:
    import os

    return os.path.exists(os.path.join(_local_path(base), tbl, "_SUCCESS"))


def build_bucketed_layout(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """SETUP FIXTURE — the one-time layout INVESTMENT, deliberately NOT a
    registered query: (re)write lineitem/orders bucketed+sorted on
    orderkey (8 buckets). Idempotent across PROCESSES, not just sessions:
    when the bucketed files already sit at the demo location (previous
    run / the bench warm-up / ``entry()``), a fresh session re-registers
    them with a fast CREATE TABLE ... LOCATION instead of re-paying the
    write, so no timed pass ever includes the fixture (r6 driver bench
    showed pass-1 lazily building inside ``bucketed_join_revenue``
    polluting a mean-of-passes figure). Write cost at sf0.1 is
    ~0.8 s vs 0.014 s for the join it buys."""
    from autonomous_orchestrator_ai_spark.operators.skew import write_bucketed

    li_tbl, ord_tbl = _bucket_demo_names(sf_dir)
    base = _bucket_demo_base(spark)
    for tbl, src in ((li_tbl, "lineitem"), (ord_tbl, "orders")):
        if _layout_on_disk(base, tbl) and not spark.catalog.tableExists(tbl):
            spark.sql(
                f"CREATE TABLE {tbl} ({_DEMO_DDL_COLS[src]}) USING PARQUET "
                f"CLUSTERED BY ({_DEMO_DDL_COLS[src].split()[0]}) "
                f"SORTED BY ({_DEMO_DDL_COLS[src].split()[0]}) INTO 8 BUCKETS "
                f"LOCATION '{base}/{tbl}'"
            )
        elif not spark.catalog.tableExists(tbl):
            key = _DEMO_DDL_COLS[src].split()[0]
            cols = [c.split()[0] for c in _DEMO_DDL_COLS[src].split(", ")]
            write_bucketed(
                table(spark, sf_dir, src).select(*cols),
                tbl, key, n_buckets=8, sort_by=key, path=f"{base}/{tbl}",
            )
    return li_tbl, ord_tbl


def _bucketed_revenue_agg(spark: SparkSession, li_tbl: str, ord_tbl: str):
    from autonomous_orchestrator_ai_spark.plans.registry import exact_money_sum

    joined = bucketed_join_on(spark, li_tbl, ord_tbl)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        exact_money_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue"),
    )


def bucketed_join_on(spark: SparkSession, li_tbl: str, ord_tbl: str):
    """The join core of ``bucketed_join_revenue``, exposed so the plan test
    can assert exchange-freeness on the exact production join."""
    li = spark.table(li_tbl)
    orders = spark.table(ord_tbl)
    return li.hint("merge").join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    )
