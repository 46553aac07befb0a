"""Iterative graph queries with DuckDB-oracle replicas.

PageRank is the one shape in the repo that is genuinely ITERATIVE — the
plan is a loop of join+agg rounds — and it is still oracle-exact because
the iteration count is fixed: the DuckDB replica simply unrolls the five
rounds as chained CTEs. (Connected components, the other iterative
operator, is oracled via DuckDB's recursive CTE in ``near_dup_clusters``.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.graph import pagerank, triangle_stats
from autonomous_orchestrator_ai_spark.operators.partitioning import (
    repartition_for_exploding_join,
)
from autonomous_orchestrator_ai_spark.plans.registry import register, table

_ITERATIONS = 5


def _copurchase_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (l_orderkey, l_partkey) projection, hash-partitioned on the
    self-join key at full cluster parallelism. The co-purchase edge
    derivation is an exploding equi-self-join (orders hold up to 7
    items, so output ~ fan-out^2 per key) and its input is only a few
    MB at bench scale — AQE coalesced the join to 3 tasks and the pair
    explosion ran on 3 of 32 cores (measured 3-5 s of the 5-7 s query).
    One explicit REPARTITION_BY_NUM exchange, shared by both join sides
    via exchange reuse, pins the join stage to cluster parallelism; see
    repartition_for_exploding_join."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return repartition_for_exploding_join(li, "l_orderkey")


def _unrolled_pagerank_sql(iterations: int) -> str:
    # One CTE per round; constants are CAST to DOUBLE because bare 0.85 is
    # DECIMAL in DuckDB and decimal division would diverge from Spark's
    # double arithmetic. Every CTE is AS MATERIALIZED: DuckDB inlines
    # single-reference CTEs, and inlining p5 -> p4 -> ... -> p0 would
    # re-derive the edge self-join once per unrolled level (measured: a
    # spill past 80 GB of temp at sf1; materialized, the sweep is seconds).
    ctes = [
        """
    edges AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ),
    nodes AS MATERIALIZED (SELECT s AS k FROM edges UNION SELECT d FROM edges),
    nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS MATERIALIZED (SELECT s, COUNT(*) AS out_deg FROM edges GROUP BY s),
    p0 AS MATERIALIZED (
      SELECT k, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r FROM nodes)
    """.strip()
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""
    p{i} AS MATERIALIZED (
      SELECT nodes.k,
             CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
               + CAST(0.85 AS DOUBLE) * COALESCE(m.mass, CAST(0 AS DOUBLE)) AS r
      FROM nodes LEFT JOIN (
        SELECT e.d AS k, SUM(p.r / deg.out_deg) AS mass
        FROM edges e JOIN p{i - 1} p ON e.s = p.k JOIN deg ON deg.s = e.s
        GROUP BY e.d
      ) m ON nodes.k = m.k
    )
    """.strip()
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT k AS p_partkey, ROUND(r, 8) AS pagerank
    FROM p{iterations} ORDER BY p_partkey
    """
    )


@register(
    "part_copurchase_pagerank", oracle=_unrolled_pagerank_sql(_ITERATIONS)
)
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts appearing in the
    same order are linked), 5 power-iteration rounds, damping 0.85.

    Edge generation is an equi-self-join on l_orderkey (orders hold <= 7
    items, so fan-out is bounded per key); the rank state is (node, rank)
    only. Scores are rounded to 8dp — iteration noise from summation order
    is ~1e-16 relative, far below the rounding grid.
    """
    li = _copurchase_input(spark, sf_dir)
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
    )
    pr = pagerank(edges, iterations=_ITERATIONS)
    return pr.select(
        F.col("node").alias("p_partkey"),
        F.round("rank", 8).alias("pagerank"),
    ).orderBy("p_partkey")


@register(
    "copurchase_triangle_stats",
    oracle="""
    WITH e AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    deg AS (
      SELECT n, COUNT(*) AS deg FROM (
        SELECT p1 AS n FROM e UNION ALL SELECT p2 FROM e) GROUP BY n
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e ab JOIN e bc ON ab.p2 = bc.p1
                JOIN e ac ON ac.p1 = ab.p1 AND ac.p2 = bc.p2
    ),
    agg AS (
      SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
             (SELECT COUNT(*) FROM e) AS n_edges,
             (SELECT SUM(deg * (deg - 1)) // 2 FROM deg) AS n_wedges,
             (SELECT n_triangles FROM tri) AS n_triangles
    )
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(n_wedges AS BIGINT) AS n_wedges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           CASE WHEN n_wedges = 0 THEN 0.0
                ELSE ROUND(3.0 * n_triangles / n_wedges, 6) END AS clustering
    FROM agg
    """,
)
def copurchase_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the support-filtered co-purchase graph (parts
    co-occurring in >= 2 orders — the min-support cut keeps the graph
    sparse as the order count grows, so the triangle join's input scales
    with genuinely-associated pairs, not with all pairs).

    Uses operators.graph.triangle_stats: degree-ordered orientation bounds
    the wedge fan-out by out-degree ~ sqrt(m) regardless of hub degrees.
    The oracle counts the same triangles via the canonical p1<p2<p3
    triple join.
    """
    li = _copurchase_input(spark, sf_dir)
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 2)
        .select("src", "dst")
    )
    return triangle_stats(edges)


_KCORE_K = 2
_KCORE_WAVES = 10


def _unrolled_kcore_sql(k: int, waves: int) -> str:
    """Wave-unrolled peel, one CTE trio per wave (the iterative-operator
    oracle pattern from _unrolled_pagerank_sql): the Spark operator runs
    with max_iterations == waves, so even a not-yet-converged peel is
    bit-identical in both engines. MATERIALIZED for the same reason as
    pagerank: inlining would re-derive the edge join once per level."""
    ctes = [
        """
    e0 AS MATERIALIZED (
      SELECT a.l_partkey AS s, b.l_partkey AS d
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    """.strip()
    ]
    for i in range(1, waves + 1):
        p = i - 1
        ctes.append(
            f"""
    w{i} AS MATERIALIZED (
      SELECT n FROM (
        SELECT n, COUNT(*) AS deg FROM (
          SELECT s AS n FROM e{p} UNION ALL SELECT d FROM e{p}) u
        GROUP BY n) dg
      WHERE deg < {k}
    ),
    e{i} AS MATERIALIZED (
      SELECT s, d FROM e{p}
      WHERE s NOT IN (SELECT n FROM w{i})
        AND d NOT IN (SELECT n FROM w{i})
    )
    """.strip()
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    , deg AS (
      SELECT n, COUNT(*) AS deg FROM (
        SELECT s AS n FROM e{waves} UNION ALL SELECT d FROM e{waves}) u
      GROUP BY n)
    SELECT COALESCE((SELECT CAST(COUNT(*) AS BIGINT) FROM deg), 0) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e{waves}) AS n_edges,
           COALESCE((SELECT CAST(MIN(deg) AS BIGINT) FROM deg), 0) AS min_degree,
           COALESCE((SELECT CAST(MAX(deg) AS BIGINT) FROM deg), 0) AS max_degree
    """
    )


@register(
    "copurchase_kcore_stats",
    oracle=_unrolled_kcore_sql(_KCORE_K, _KCORE_WAVES),
)
def copurchase_kcore_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2-core of the support-filtered co-purchase graph
    (operators.graph.k_core): iteratively peel nodes with fewer than 2
    surviving neighbors until the maximal min-degree->=2 subgraph
    remains — drops every dangling tree, leaving only the cyclic
    'community' structure that triangle counts, PMI screens and
    near-dup clustering should be pointed at. min_degree >= 2 in the
    output IS the convergence witness (when the peel converged within
    the wave budget). Same support-filtered edge set as
    copurchase_triangle_stats; the iterative peel is oracled by wave
    UNROLLING with the Spark side capped to the same wave count, so the
    comparison is exact even mid-peel."""
    from autonomous_orchestrator_ai_spark.operators.graph import k_core

    li = _copurchase_input(spark, sf_dir)
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 2)
        .select("src", "dst")
    )
    core = k_core(edges, _KCORE_K, max_iterations=_KCORE_WAVES)
    deg = (
        core.select(F.col("src").alias("n"))
        .unionAll(core.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.coalesce(F.min("deg"), F.lit(0)).alias("min_degree"),
            F.coalesce(F.max("deg"), F.lit(0)).alias("max_degree"),
        )
        .crossJoin(core.agg(F.count(F.lit(1)).alias("n_edges")))
        .select("n_nodes", "n_edges", "min_degree", "max_degree")
    )
