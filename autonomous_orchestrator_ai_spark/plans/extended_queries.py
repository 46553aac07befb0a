"""Extended operator coverage: semi/anti joins, pivot, exact percentiles,
argmax, CUBE, sliding windows, string/date functions, cross-table
(documents x embeddings) analytics.

These complete the relational surface a reference user would expect
(SURVEY.md §2.3-§2.8 'free from Catalyst' notes) — each shape is here
because the reference either lacked it (joins, windows) or did it
client-side (latest-per-key, stats)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions.text import token_count
from autonomous_orchestrator_ai_spark.plans.registry import (
    exact_money_sum,
    register,
    table,
)


@register(
    "late_shipping_orders",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-07-01' AND o_orderdate < DATE '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def late_shipping_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS == left-semi join (no row duplication, lineitem
    side never materializes into the output)."""
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "orders_without_lineitems",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
    GROUP BY o_orderstatus
    """,
)
def orders_without_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS == left-anti join."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    anti = orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
    return anti.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "returned_items_top_customers",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           c_acctbal
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
    GROUP BY c_custkey, c_name, c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_items_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue — join + agg +
    top-20 via TakeOrderedAndProject."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # customer scales with the corpus — AQE-decided, not forced
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(
            exact_money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "promo_revenue_ratio",
    oracle="""
    SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                                       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                                       ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
                 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
    """,
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-sum ratio over a broadcast dim join."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(
                        F.col("p_type") == "PROMO", rev.cast("decimal(18,4)")
                    ).otherwise(F.lit(0).cast("decimal(18,4)"))
                ).cast("double")
                / F.sum(rev.cast("decimal(18,4)")).cast("double"),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "value_percentiles_by_type",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4) AS p50,
           ROUND(quantile_cont(value, 0.9), 4) AS p90,
           ROUND(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type
    """,
)
def value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — identical semantics to
    DuckDB quantile_cont). The approximate twin at cluster scale is
    percentile_approx; exact is fine when cardinality per group is bounded."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
    )


@register(
    "event_counts_pivoted",
    oracle="""
    SELECT user_id % 10 AS user_decile,
           CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
           CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
           CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
           CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
)
def event_counts_pivoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (explicit values keep it one pass —
    no distinct-collection job — and a stable output schema)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy((F.col("user_id") % 10).alias("user_decile"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@register(
    "revenue_by_year",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue
    FROM orders GROUP BY 1
    """,
)
def revenue_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + agg."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_money_sum(F.col("o_totalprice")).alias("total_revenue"),
        )
    )


@register(
    "lineitem_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (Catalyst Expand)."""
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_money_sum(F.col("l_quantity")).alias("sum_qty"),
        )
    )


@register(
    "part_type_string_profile",
    oracle="""
    SELECT upper(substr(p_type, 1, 3)) AS type_prefix,
           lower(p_brand) AS brand_lower,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(length(p_name)) AS BIGINT) AS total_name_chars,
           ROUND(AVG(length(concat(p_name, '-', p_type))), 4) AS avg_label_len
    FROM part GROUP BY 1, 2
    """,
)
def part_type_string_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface: upper/lower/substr/concat/length."""
    return (
        table(spark, sf_dir, "part")
        .groupBy(
            F.upper(F.substring("p_type", 1, 3)).alias("type_prefix"),
            F.lower(F.col("p_brand")).alias("brand_lower"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.length("p_name")).alias("total_name_chars"),
            F.round(F.avg(F.length(F.concat_ws("-", "p_name", "p_type"))), 4).alias(
                "avg_label_len"
            ),
        )
    )


@register(
    "sliding_window_daily_pairs",
    oracle="""
    WITH contrib AS (
      SELECT unnest([date_trunc('day', ts), date_trunc('day', ts) - INTERVAL 1 DAY]) AS win_start,
             value
      FROM events)
    SELECT strftime(win_start, '%Y-%m-%d') AS win_start_day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM contrib GROUP BY win_start
    """,
)
def sliding_window_daily_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (2-day width, 1-day slide) — every event lands in two
    windows; the T7 surface in its sliding form."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 days", "1 day").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_money_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("win_start_day"),
            "n_events",
            "total_value",
        )
    )


@register(
    "doc_embedding_quality_by_label",
    oracle="""
    WITH toks AS (
      SELECT e.label, d.n_chars,
             CASE WHEN trim(d.text) = '' THEN 0
                  ELSE len(string_split_regex(trim(d.text), '\\s+')) END AS n_tokens
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_chars), 4) AS avg_chars
    FROM toks GROUP BY label
    """,
)
def doc_embedding_quality_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: text stats grouped by embedding cluster label — the
    'what text feeds each embedding cluster' training-mix query."""
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        # embeddings scale 1:1 with documents — AQE-decided, not forced
        docs.join(emb, docs.doc_id == emb.vec_id)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count("text")).alias("total_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@register(
    "above_segment_average_customers",
    oracle="""
    WITH seg AS (SELECT c_mktsegment, AVG(c_acctbal) AS seg_avg
                 FROM customer GROUP BY c_mktsegment)
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_above_avg,
           ROUND(MAX(c.c_acctbal - seg.seg_avg), 4) AS max_excess
    FROM customer c JOIN seg ON c.c_mktsegment = seg.c_mktsegment
    WHERE c.c_acctbal > seg.seg_avg
    GROUP BY c.c_mktsegment
    """,
)
def above_segment_average_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (acctbal > segment average), decorrelated
    as agg + self-join — the plan Catalyst itself produces for the
    correlated SQL; written explicitly so the broadcast of the tiny
    aggregate side is guaranteed."""
    cust = table(spark, sf_dir, "customer")
    seg = cust.groupBy("c_mktsegment").agg(F.avg("c_acctbal").alias("seg_avg"))
    return (
        cust.join(F.broadcast(seg), "c_mktsegment")
        .filter(F.col("c_acctbal") > F.col("seg_avg"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_above_avg"),
            F.round(F.max(F.col("c_acctbal") - F.col("seg_avg")), 4).alias("max_excess"),
        )
    )


@register(
    "props_payload_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS n_parsed,
           ROUND(AVG(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
           CAST(MAX(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def props_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path extraction profiling over the payload column (S2's scalar
    cousin: get_json_object + try_cast, null-safe)."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("int")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_parsed"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).cast("bigint").alias("max_k"),
    )


@register(
    "nation_region_lookup_join",
    oracle="""
    SELECT r.r_name AS region_name,
           CAST(COUNT(DISTINCT n.n_nationkey) AS BIGINT) AS n_nations,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def nation_region_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The F3 dictionary-decode pattern at its scale form: broadcast lookup
    join through two dimension tables (the scale form of enrich.region_expr's
    literal CASE)."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.countDistinct("n_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
            exact_money_sum(F.col("c_acctbal")).alias("total_acctbal"),
        )
    )


@register(
    "argmax_event_per_user",
    oracle="""
    SELECT user_id,
           CAST(arg_max(event_id, ts) AS BIGINT) AS last_event_id,
           ROUND(arg_max(value, ts), 2) AS last_value
    FROM events GROUP BY user_id
    """,
)
def argmax_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/argmax aggregate — the shuffle-light alternative to the
    ranking-window 'latest per key' (no sort, pure hash agg)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", "ts").alias("last_event_id"),
        F.round(F.max_by("value", "ts"), 2).alias("last_value"),
    )


@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t1
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2
          GROUP BY e.user_id)
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewed,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_clicked_after_view,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchased_after_click
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): each stage is
    the users whose earliest qualifying event strictly follows their
    previous stage's time. Three keyed min-aggregations chained by
    user_id-keyed joins — every shuffle is on user_id, so AQE reuses one
    exchange layout end to end; no window, no sort, no self-join blowup."""
    events = table(spark, sf_dir, "events")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_after_click")))
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT f.user_id,
             strftime(date_trunc('week', f.t0), '%Y-%m-%d') AS cohort_week,
             CAST(FLOOR(date_diff('day', CAST(f.t0 AS DATE), CAST(e.ts AS DATE)) / 7.0)
                  AS BIGINT) AS week_offset
      FROM events e JOIN first_seen f ON e.user_id = f.user_id)
    SELECT cohort_week, week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active_users
    FROM activity GROUP BY cohort_week, week_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-seen week, counted
    in each subsequent week-offset they were active. first-seen is one
    user_id-keyed agg joined back (broadcast at these scales; same-key
    shuffle at large ones), then a distinct + count — the standard cohort
    shape with no window function and no per-user collect."""
    events = table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(F.min("ts").alias("t0"))
    activity = (
        events.join(first_seen, "user_id")
        .select(
            "user_id",
            F.date_format(F.date_trunc("week", "t0"), "yyyy-MM-dd").alias(
                "cohort_week"
            ),
            F.floor(
                F.datediff(F.col("ts"), F.col("t0")) / F.lit(7.0)
            ).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


@register(
    "embedding_snapshot_drift",
    oracle="""
    WITH flat AS (
      SELECT label, vec_id % 2 AS half, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    cent AS (SELECT label, half, i, AVG(v) AS m
             FROM flat GROUP BY label, half, i),
    paired AS (
      SELECT a.label, a.i, a.m AS m0, b.m AS m1
      FROM cent a JOIN cent b ON a.label = b.label AND a.i = b.i
      WHERE a.half = 0 AND b.half = 1)
    SELECT label, ROUND(SQRT(SUM((m0 - m1) * (m0 - m1))), 6) AS centroid_shift
    FROM paired GROUP BY label
    """,
)
def embedding_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between two corpus snapshots (even/odd
    vec_ids standing in for old/new): per-label L2 distance between the
    snapshots' centroids — the 'did my encoder or data shift' check run
    before reusing an ANN index. posexplode -> (label, half, dim) means ->
    pair -> distance; all partial-aggregated, nothing leaves the JVM."""
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "v"),
    )
    cent = flat.groupBy("label", "half", "i").agg(F.avg("v").alias("m"))
    a = cent.filter(F.col("half") == 0).select("label", "i", F.col("m").alias("m0"))
    b = cent.filter(F.col("half") == 1).select("label", "i", F.col("m").alias("m1"))
    paired = a.join(b, ["label", "i"])
    diff = F.col("m0") - F.col("m1")
    return paired.groupBy("label").agg(
        F.round(F.sqrt(F.sum(diff * diff)), 6).alias("centroid_shift")
    )


@register(
    "orders_column_profile",
    oracle="""
    WITH stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_k,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nd_k,
             CAST(MIN(o_orderkey) AS VARCHAR) AS mn_k,
             CAST(MAX(o_orderkey) AS VARCHAR) AS mx_k,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_c,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_c,
             CAST(MIN(o_custkey) AS VARCHAR) AS mn_c,
             CAST(MAX(o_custkey) AS VARCHAR) AS mx_c,
             CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_s,
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_s,
             CAST(MIN(o_orderstatus) AS VARCHAR) AS mn_s,
             CAST(MAX(o_orderstatus) AS VARCHAR) AS mx_s,
             CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_p,
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_p,
             CAST(MIN(o_orderpriority) AS VARCHAR) AS mn_p,
             CAST(MAX(o_orderpriority) AS VARCHAR) AS mx_p
      FROM orders)
    SELECT 'o_orderkey' AS column, n_rows, nn_k AS n_nulls, nd_k AS n_distinct,
           mn_k AS min_value, mx_k AS max_value FROM stats
    UNION ALL
    SELECT 'o_custkey', n_rows, nn_c, nd_c, mn_c, mx_c FROM stats
    UNION ALL
    SELECT 'o_orderstatus', n_rows, nn_s, nd_s, mn_s, mx_s FROM stats
    UNION ALL
    SELECT 'o_orderpriority', n_rows, nn_p, nd_p, mn_p, mx_p FROM stats
    """,
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile (operators.profiling.profile_columns) on four
    orders columns: null/distinct counts + min/max per column from a single
    scan (Spark's multi-distinct Expand), unpivoted to a tidy row per
    column. String-formatted min/max restricted here to int/varchar columns
    where both engines' rendering agrees byte-for-byte."""
    from autonomous_orchestrator_ai_spark.operators.profiling import (
        profile_columns,
    )

    orders = table(spark, sf_dir, "orders")
    return profile_columns(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )


@register(
    "value_histogram",
    oracle="""
    WITH bounds AS (
      SELECT MIN(CAST(value AS DOUBLE)) AS mn, MAX(CAST(value AS DOUBLE)) AS mx
      FROM events),
    binned AS (
      SELECT CASE WHEN mx = mn THEN 0
                  ELSE LEAST(CAST(FLOOR((CAST(value AS DOUBLE) - mn) * 20 / (mx - mn)) AS BIGINT), 19)
             END AS bin, mn, mx
      FROM events CROSS JOIN bounds
      WHERE value IS NOT NULL)
    SELECT bin,
           ROUND(mn + bin * ((mx - mn) / 20), 6) AS bin_lo,
           ROUND(mn + (bin + 1) * ((mx - mn) / 20), 6) AS bin_hi,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM binned GROUP BY bin, mn, mx
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of events.value
    (operators.profiling.numeric_histogram): bounds are one broadcast row,
    binning partial-aggregates map-side, and the multiply-then-divide bin
    expression is engine-portable bit-for-bit."""
    from autonomous_orchestrator_ai_spark.operators.profiling import (
        numeric_histogram,
    )

    events = table(spark, sf_dir, "events")
    return numeric_histogram(events, "value", n_bins=20)


@register(
    "orders_grouping_sets",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (status-only, priority-only, grand total) —
    the general grouping-set surface beyond rollup/cube, one Expand pass
    in Catalyst (SURVEY.md §2.4). Subtotal NULLs are COALESCEd to 'ALL'
    for engine-portable output."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_money_sum(F.col("o_totalprice")).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


@register(
    "join_key_skew_profile",
    oracle="""
    WITH per_key AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY user_id),
    tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total, COUNT(*) AS n_keys FROM per_key),
    ranked AS (
      SELECT user_id, n_rows,
             ROW_NUMBER() OVER (ORDER BY n_rows DESC, user_id) AS rank
      FROM per_key)
    SELECT r.user_id, r.n_rows, CAST(r.rank AS BIGINT) AS rank,
           ROUND(r.n_rows * 1.0 / t.total, 6) AS share,
           ROUND(r.n_rows * t.n_keys * 1.0 / t.total, 4) AS x_over_avg
    FROM ranked r CROSS JOIN tot t WHERE r.rank <= 10
    """,
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis: the top-10 heaviest events.user_id keys
    with their share of all rows and multiple-of-average — the profile
    that decides between plain shuffle join, AQE skew split, and salting
    (operators.skew). One keyed agg, a 1-row broadcast total, and a
    top-k — no full sort."""
    events = table(spark, sf_dir, "events")
    per_key = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    tot = per_key.agg(
        F.sum("n_rows").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    ranked = (
        per_key.orderBy(F.desc("n_rows"), F.asc("user_id"))
        .limit(10)
        .withColumn(
            "rank",
            # ranks only the 10 surviving rows; the constant partition key
            # states "one tiny partition" explicitly instead of tripping
            # WindowExec's move-everything-to-one-partition warning
            F.row_number().over(
                Window.partitionBy(F.lit(1)).orderBy(
                    F.desc("n_rows"), F.asc("user_id")
                )
            ).cast("bigint"),
        )
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "user_id",
        "n_rows",
        "rank",
        F.round(F.col("n_rows") / F.col("total"), 6).alias("share"),
        F.round(F.col("n_rows") * F.col("n_keys") / F.col("total"), 4).alias(
            "x_over_avg"
        ),
    )


@register(
    "order_value_deciles",
    oracle="""
    WITH tiled AS (
      SELECT o_orderpriority,
             CAST(o_totalprice AS DOUBLE) AS price,
             NTILE(10) OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders)
    SELECT o_orderpriority, CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(MIN(price), 2) AS lo,
           ROUND(MAX(price), 2) AS hi
    FROM tiled GROUP BY o_orderpriority, decile
    """,
)
def order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-priority order-value deciles (NTILE): the ranking-function
    complement to percent_rank/row_number already in the surface. The
    tile window partitions by priority, so sorting parallelizes across
    groups — the scale-safe form (a GLOBAL ntile would be one sort
    partition). Unique tie-break (o_orderkey) keeps bucket edges
    engine-identical."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    tiled = orders.select(
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.ntile(10).over(w).cast("bigint").alias("decile"),
    )
    return tiled.groupBy("o_orderpriority", "decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("price"), 2).alias("lo"),
        F.round(F.max("price"), 2).alias("hi"),
    )


@register(
    "value_equidepth_histogram",
    oracle="""
    WITH tiled AS (
      SELECT CAST(value AS DOUBLE) AS v,
             NTILE(20) OVER (ORDER BY CAST(value AS DOUBLE), event_id) AS bucket
      FROM events WHERE value IS NOT NULL)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(v), 6) AS lo,
           ROUND(MAX(v), 6) AS hi
    FROM tiled GROUP BY bucket
    """,
)
def value_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH 20-bucket histogram of events.value (each bucket holds
    ~n/20 rows; bucket bounds are the empirical quantiles) — the
    complement of the equi-width `value_histogram`, and what an optimizer
    wants for selectivity estimation on skewed columns. NTILE needs a
    total order, so this is the one histogram that pays a global sort —
    it exists as the SMALL-DATA ORACLE BASELINE for
    ``value_equidepth_histogram_approx`` below, which is the
    bounded-state scale path (approx_percentile cut points + a binning
    pass, no global sort) and the form to run at 100 TB."""
    from pyspark.sql import Window

    events = table(spark, sf_dir, "events")
    tiled = events.filter(F.col("value").isNotNull()).select(
        F.col("value").cast("double").alias("v"),
        F.ntile(20)
        .over(
            Window.partitionBy(F.lit(1)).orderBy(
                F.col("value").cast("double"), F.col("event_id")
            )
        )
        .alias("bucket"),
    )
    return tiled.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("v"), 6).alias("lo"),
        F.round(F.max("v"), 6).alias("hi"),
    ).select(F.col("bucket").cast("bigint").alias("bucket"), "n_rows", "lo", "hi")


@register("value_equidepth_histogram_approx")  # sketch-based: rows-only check;
# tolerance vs the exact NTILE form is pinned in tests/test_scale_paths.py
def value_equidepth_histogram_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state equi-depth histogram — the 100 TB form of
    ``value_equidepth_histogram``. Two passes, NO global sort:

    1. one aggregate computes 19 approx_percentile cut points (a
       Greenwald-Khanna sketch: fixed memory regardless of row count,
       partials merge map-side);
    2. a binning pass assigns each row ``1 + #cuts_below(v)`` via a fused
       array fold over the broadcast 19-element cut array, then a plain
       groupBy(bucket) — fully parallel, whole-stage-codegen.

    vs the exact form: bucket populations are approximate (sketch rank
    error + ties binned by value rather than by (value, event_id)), which
    is precisely the trade a selectivity-estimation consumer accepts.
    Same output schema as the exact form so the two are diffable."""
    events = table(spark, sf_dir, "events")
    v = events.filter(F.col("value").isNotNull()).select(
        F.col("value").cast("double").alias("v")
    )
    pcts = F.array(*[F.lit(i / 20.0) for i in range(1, 20)])
    cuts = v.agg(F.percentile_approx("v", pcts, F.lit(10000)).alias("cuts"))
    binned = v.crossJoin(F.broadcast(cuts)).select(
        "v",
        F.expr(
            "1 + aggregate(cuts, 0, (acc, c) -> acc + IF(v > c, 1, 0))"
        )
        .cast("bigint")
        .alias("bucket"),
    )
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("v"), 6).alias("lo"),
        F.round(F.max("v"), 6).alias("hi"),
    )


@register(
    "equidepth_approx_contract",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(19 AS INT) AS n_cuts,
           CAST(0 AS BIGINT) AS n_cut_violations
    FROM events WHERE value IS NOT NULL
    """,
)
def equidepth_approx_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic cross-check for ``value_equidepth_histogram_approx``:
    the sketch's cut VALUES jitter with partition merge order, but its
    rank-error CONTRACT does not — a Greenwald-Khanna sketch at accuracy
    1/10000 must return, for the i/20 quantile, a value whose exact rank
    interval [count(v<c), count(v<=c)] intersects
    [i*n/20 - n/10000, i*n/20 + n/10000]. This query recomputes each
    cut's exact rank interval with one posexplode + map-combined groupBy
    (19 tiny rows out) and reports the violation count, which the GK
    guarantee pins at 0 for ANY valid sketch output — so the oracle can
    assert it as a literal while DuckDB independently supplies the exact
    n_values. A broken sketch, a wrong accuracy plumb-through, or a
    binning off-by-one all flip this row."""
    events = table(spark, sf_dir, "events")
    v = events.filter(F.col("value").isNotNull()).select(
        F.col("value").cast("double").alias("v")
    )
    pcts = F.array(*[F.lit(i / 20.0) for i in range(1, 20)])
    cuts = v.agg(F.percentile_approx("v", pcts, F.lit(10000)).alias("cuts"))
    flags = v.crossJoin(F.broadcast(cuts)).select(
        F.posexplode(
            F.expr(
                "transform(cuts, c -> struct("
                "IF(v < c, 1L, 0L) AS lt, IF(v <= c, 1L, 0L) AS le))"
            )
        ).alias("i", "f")
    )
    per_cut = flags.groupBy("i").agg(
        F.sum("f.lt").alias("cnt_lt"),
        F.sum("f.le").alias("cnt_le"),
        F.count(F.lit(1)).alias("n"),
    )
    # target rank for cut i (0-based) is (i+1)*n/20; tolerance is the GK
    # bound n/10000 plus 1 row of floor slack. Violation iff the exact
    # rank interval misses the allowed band entirely.
    tol = F.col("n") / 10000.0 + 1.0
    target = (F.col("i") + 1) * F.col("n") / 20.0
    viol = (
        (F.col("cnt_le") < target - tol) | (F.col("cnt_lt") > target + tol)
    ).cast("long")
    return per_cut.agg(
        F.max("n").alias("n_values"),
        F.count(F.lit(1)).cast("int").alias("n_cuts"),
        F.sum(viol).alias("n_cut_violations"),
    )


@register(
    "salted_event_type_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def salted_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation through the salt path (operators.skew.
    salted_aggregate): counts/sums partial-aggregate per (key, salt) so a
    pathological key spreads over n_salts reducers before the tiny
    combine — and the oracle proves the two-phase form is bit-identical
    to the plain GROUP BY. The distinct-user count is salt-decomposable
    here because the salt is derived from user_id (``salt_by``): each
    user owns exactly one salt partition, so per-salt COUNT(DISTINCT
    user_id) partials combine EXACTLY via SUM — no collect_set, no
    per-row value materialization anywhere on the path. At extreme
    per-salt cardinality the partial swaps to approx_count_distinct with
    the same SUM combine (same one-salt-per-user argument)."""
    from autonomous_orchestrator_ai_spark.operators.skew import salted_aggregate

    ev = table(spark, sf_dir, "events")
    out = salted_aggregate(
        ev,
        "event_type",
        partial_aggs={
            "cnt": F.count(F.lit(1)),
            "sum_v": F.sum(F.col("value").cast("decimal(18,4)")),
            "users": F.count_distinct(F.col("user_id")),
        },
        final_aggs={
            "n_events": F.sum("cnt"),
            "total_value": F.round(F.sum("sum_v"), 2).cast("double"),
            "n_users": F.sum("users"),
        },
        salt_by="user_id",
    )
    return out.select(
        "event_type",
        "n_events",
        "total_value",
        F.col("n_users").cast("bigint").alias("n_users"),
    )


@register(
    "lineitem_correlations",
    oracle="""
    WITH v AS (
      SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p,
             CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS d
      FROM lineitem),
    s AS (
      SELECT COUNT(*) AS n,
             SUM(q) sq, SUM(p) sp, SUM(d) sd,
             SUM(q*q) sqq, SUM(p*p) spp, SUM(d*d) sdd,
             SUM(q*p) sqp, SUM(q*d) sqd, SUM(p*d) spd
      FROM v)
    SELECT CAST(n AS BIGINT) AS n_rows,
           ROUND(CAST(n*sqp - sq*sp AS DOUBLE)
                 / sqrt(CAST(n*sqq - sq*sq AS DOUBLE)
                        * CAST(n*spp - sp*sp AS DOUBLE)), 6) AS corr_qty_price,
           ROUND(CAST(n*sqd - sq*sd AS DOUBLE)
                 / sqrt(CAST(n*sqq - sq*sq AS DOUBLE)
                        * CAST(n*sdd - sd*sd AS DOUBLE)), 6) AS corr_qty_discount,
           ROUND(CAST(n*spd - sp*sd AS DOUBLE)
                 / sqrt(CAST(n*spp - sp*sp AS DOUBLE)
                        * CAST(n*sdd - sd*sd AS DOUBLE)), 6) AS corr_price_discount
    FROM s
    """,
)
def lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix of (quantity, price, discount) from ONE
    map-side-combined aggregation of ten exact fixed-point moments —
    the single-pass alternative to three ``corr()`` calls (each of which
    would rescan). Pearson is scale-invariant, so the cent/centi-unit
    fixed-point inputs give the mathematically identical correlation while
    keeping every moment an exact integer (decimal(38)/HUGEINT: immune to
    sf-promotion overflow); the only float ops are the final
    divide/sqrt/round — bit-identical across engines."""
    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        F.expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("q"),
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("p"),
        F.expr("CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("d"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("q")).alias("sq"),
        F.sum(dec("p")).alias("sp"),
        F.sum(dec("d")).alias("sd"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("sqq"),
        F.sum((F.col("p") * F.col("p")).cast("decimal(38,0)")).alias("spp"),
        F.sum((F.col("d") * F.col("d")).cast("decimal(38,0)")).alias("sdd"),
        F.sum((F.col("q") * F.col("p")).cast("decimal(38,0)")).alias("sqp"),
        F.sum((F.col("q") * F.col("d")).cast("decimal(38,0)")).alias("sqd"),
        F.sum((F.col("p") * F.col("d")).cast("decimal(38,0)")).alias("spd"),
    )

    def corr(sxy: str, sx: str, sy: str, sxx: str, syy: str):
        num = (F.col("n") * F.col(sxy) - F.col(sx) * F.col(sy)).cast("double")
        vx = (F.col("n") * F.col(sxx) - F.col(sx) * F.col(sx)).cast("double")
        vy = (F.col("n") * F.col(syy) - F.col(sy) * F.col(sy)).cast("double")
        return F.round(num / F.sqrt(vx * vy), 6)

    return s.select(
        F.col("n").alias("n_rows"),
        corr("sqp", "sq", "sp", "sqq", "spp").alias("corr_qty_price"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("corr_qty_discount"),
        corr("spd", "sp", "sd", "spp", "sdd").alias("corr_price_discount"),
    )


#: Benford first-digit expected shares, log10(1 + 1/d) pre-rounded to 6dp
#: in Python and injected as identical literals into BOTH engines — no
#: engine-side log10, so no libm-vs-Java 1-ulp parity risk.
_BENFORD = {
    "1": 0.30103, "2": 0.176091, "3": 0.124939, "4": 0.09691,
    "5": 0.079181, "6": 0.066947, "7": 0.057992, "8": 0.051153,
    "9": 0.045757,
}


@register(
    "benford_value_profile",
    oracle=f"""
    WITH v AS (
      SELECT CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v4
      FROM events WHERE value IS NOT NULL),
    d AS (
      SELECT substr(CAST(v4 AS VARCHAR), 1, 1) AS digit, COUNT(*) AS n
      FROM v WHERE v4 > 0 GROUP BY 1),
    t AS (SELECT SUM(n) AS total FROM d)
    SELECT digit,
           CAST(n AS BIGINT) AS n_events,
           ROUND(n / total, 6) AS share,
           CAST(CASE digit {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _BENFORD.items())} END AS DOUBLE)
             AS expected_share,
           ROUND(abs(ROUND(n / total, 6)
                     - CAST(CASE digit {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _BENFORD.items())} END AS DOUBLE)), 6)
             AS abs_dev
    FROM d, t
    """,
)
def benford_value_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of event values — the classic
    fabricated-data / unit-mixing DQ screen. The first significant digit
    is read from the STRING form of the exact 1e-4 fixed-point value
    (substr of a bigint cast), so digit extraction involves no float log
    and no engine-specific formatting; the expected shares are Python
    pre-rounded literals identical in both engines. One groupBy(digit)
    (9 groups, map-combined) plus a broadcast 1-row total."""
    ev = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    v4 = ev.select(
        F.expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)").alias("v4")
    ).where(F.col("v4") > 0)
    d = v4.groupBy(
        F.substring(F.col("v4").cast("string"), 1, 1).alias("digit")
    ).agg(F.count(F.lit(1)).alias("n"))
    t = d.agg(F.sum("n").alias("total"))
    expected = F.coalesce(
        *[
            F.when(F.col("digit") == k, F.lit(v))
            for k, v in _BENFORD.items()
        ]
    )
    share = F.round(F.col("n") / F.col("total"), 6)
    return d.crossJoin(F.broadcast(t)).select(
        "digit",
        F.col("n").alias("n_events"),
        share.alias("share"),
        expected.alias("expected_share"),
        F.round(F.abs(share - expected), 6).alias("abs_dev"),
    )


@register(
    "value_mad_outliers_by_type",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v4
      FROM events WHERE value IS NOT NULL),
    med AS (
      SELECT event_type, quantile_cont(v4, 0.5) AS med4
      FROM v GROUP BY event_type),
    dev AS (
      SELECT v.event_type, m.med4, abs(v.v4 - m.med4) AS adev4
      FROM v JOIN med m ON v.event_type = m.event_type),
    mad AS (
      SELECT event_type, quantile_cont(adev4, 0.5) AS mad4
      FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(d.med4 / 10000.0, 4) AS median_value,
           ROUND(x.mad4 / 10000.0, 4) AS mad,
           CAST(SUM(CASE WHEN d.adev4 > 3 * x.mad4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad x ON d.event_type = x.event_type
    GROUP BY d.event_type, d.med4, x.mad4
    """,
)
def value_mad_outliers_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen per event_type — the
    robust alternative to z-scores (one wild value can't inflate its own
    outlier threshold). Two exact-percentile aggregation passes (median,
    then MAD of deviations) with the small per-group statistics joined
    back (broadcast under AQE). Every quantity on the comparison path is
    exact BY CONSTRUCTION, not by float luck: values ride as 1e-4
    fixed-point integers, so the interpolated median is a half-integer,
    deviations are half-integers, the MAD is a quarter-integer, and
    3*mad4 stays far below 2^53 — all exactly representable doubles, so
    `adev4 > 3*mad4` decides identically in any engine (no 1-ulp
    interpolation drift can flip the boundary, unlike a float-valued
    median)."""
    ev = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    v = ev.select(
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)").alias(
            "v4"
        ),
    )
    med = v.groupBy("event_type").agg(
        F.percentile("v4", F.lit(0.5)).alias("med4")
    )
    dev = v.join(med, "event_type").select(
        "event_type",
        "med4",
        F.abs(F.col("v4") - F.col("med4")).alias("adev4"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev4", F.lit(0.5)).alias("mad4")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type", "med4", "mad4")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.col("adev4") > 3 * F.col("mad4")).cast("long")
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            F.round(F.col("med4") / 10000.0, 4).alias("median_value"),
            F.round(F.col("mad4") / 10000.0, 4).alias("mad"),
            "n_outliers",
        )
    )


@register(
    "sketch_accuracy_contract",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
    p AS (SELECT DISTINCT user_id FROM events
          WHERE event_type = 'purchase' AND user_id IS NOT NULL)
    SELECT CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS n_users_exact,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchasers_exact,
           true AS hll_within_tol,
           CAST(0 AS BIGINT) AS bloom_missed,
           true AS bloom_fp_rate_ok
    """,
)
def sketch_accuracy_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic accuracy contract for the sketch family
    (operators/sketch.py), the same pattern as
    ``equidepth_approx_contract``: sketch OUTPUT VALUES vary with
    parameters but their guarantees do not, and with fixed seeds/data the
    whole row is deterministic — so the oracle pins the contract while
    DuckDB independently supplies the exact cardinalities.

    - HLL: |approx_count_distinct(user_id, rsd=0.02) − exact| / exact
      must sit within 2.5x the requested rsd (HLL++'s error is
      concentrated; 2.5x is ~5 sigma).
    - Bloom: a distributed-built filter over purchasers probed with all
      users must pass EVERY true member (zero false negatives — the
      structural guarantee the semi-join optimization relies on), and its
      measured false-positive rate on non-members must stay within 5x
      the requested fpp.

    A wrong hash, a dropped partition bitmap in the OR, or a bad
    parameter derivation all flip this row."""
    from autonomous_orchestrator_ai_spark.operators.sketch import (
        bloom_filter_semi_join,
    )

    ev = table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    users = ev.select("user_id").distinct()
    purchasers = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    kept = bloom_filter_semi_join(
        users, purchasers, "user_id", expected_items=100_000, fpp=0.01
    )
    # one tiny cross of scalar aggregates: exact counts, HLL estimate,
    # bloom pass-through counts on members and non-members
    exact = ev.agg(
        F.count_distinct("user_id").alias("n_users_exact"),
        F.count_distinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("n_purchasers_exact"),
        F.approx_count_distinct("user_id", 0.02).alias("hll_users"),
    )
    kept_stats = kept.join(
        purchasers.withColumn("__is_member", F.lit(True)),
        "user_id",
        "left",
    ).agg(
        F.sum(F.col("__is_member").isNotNull().cast("long")).alias(
            "kept_members"
        ),
        F.sum(F.col("__is_member").isNull().cast("long")).alias("kept_fps"),
    )
    return (
        exact.crossJoin(kept_stats)
        .select(
            "n_users_exact",
            "n_purchasers_exact",
            (
                F.abs(F.col("hll_users") - F.col("n_users_exact"))
                / F.col("n_users_exact")
                <= 0.05
            ).alias("hll_within_tol"),
            (F.col("n_purchasers_exact") - F.col("kept_members")).alias(
                "bloom_missed"
            ),
            (
                F.col("kept_fps")
                / F.greatest(
                    F.col("n_users_exact") - F.col("n_purchasers_exact"),
                    F.lit(1),
                )
                <= 0.05
            ).alias("bloom_fp_rate_ok"),
        )
    )


@register(
    "customer_k_anonymity",
    oracle="""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 100.0) AS BIGINT) AS acctbal_bucket
      FROM customer),
    classes AS (
      SELECT c_nationkey, c_mktsegment, acctbal_bucket,
             COUNT(*) AS class_size
      FROM qi GROUP BY ALL),
    tot AS (SELECT SUM(class_size) AS total FROM classes)
    SELECT k,
           CAST(SUM(CASE WHEN class_size < k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_classes_below,
           CAST(SUM(CASE WHEN class_size < k THEN class_size ELSE 0 END)
                AS BIGINT) AS n_rows_below,
           ROUND(SUM(CASE WHEN class_size < k THEN class_size ELSE 0 END)
                 * 100.0 / MAX(t.total), 4) AS pct_rows_below
    FROM classes CROSS JOIN (VALUES (2), (5), (10), (20)) ks(k)
    CROSS JOIN tot t
    GROUP BY k
    """,
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk over customer quasi-identifiers (nation, market
    segment, account balance bucketed to 100s) —
    operators.profiling.k_anonymity_report. Per k in {2,5,10,20}: classes
    and row share failing the threshold. Class table is bounded by the QI
    domain product, so every k level is an aggregate over a tiny frame
    regardless of corpus size."""
    from autonomous_orchestrator_ai_spark.operators.profiling import (
        k_anonymity_report,
    )

    cust = table(spark, sf_dir, "customer").withColumn(
        "acctbal_bucket", F.floor(F.col("c_acctbal") / 100.0).cast("bigint")
    )
    return k_anonymity_report(
        cust, ["c_nationkey", "c_mktsegment", "acctbal_bucket"]
    )
