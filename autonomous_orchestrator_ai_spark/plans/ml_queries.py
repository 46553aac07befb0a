"""Retrieval + feature-statistics queries (operators/retrieval.py,
operators/mlstats.py, similarity.hard_negatives) with DuckDB oracles.

BM25 search and hybrid RRF fusion, contrastive hard-negative mining,
kNN label-noise screening, classifier calibration, RFM behavioral
segmentation, cross-column mutual information, WOE/IV feature
screening, point-in-time feature joins, token-PMI collocations and
embedding-dimension correlation — the search / feature-engineering /
model-readiness layer next to the dedup and scoring families. Extends
the reference's per-row quality surface (SURVEY.md §2.10) with the
corpus-relative statistics a training-data pipeline screens features
and mixes with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.mlstats import (
    mutual_information_pairs,
    poisson_bootstrap_mean,
    rfm_segments,
    woe_iv,
)
from autonomous_orchestrator_ai_spark.operators.partitioning import (
    ensure_min_parallelism,
)
from autonomous_orchestrator_ai_spark.operators.retrieval import (
    bm25_scores,
    rrf_fuse,
)
from autonomous_orchestrator_ai_spark.operators.similarity import (
    hard_negatives,
)
from autonomous_orchestrator_ai_spark.plans.registry import (
    register,
    table,
    table_row_count,
)
from autonomous_orchestrator_ai_spark.plans.scoring_queries import _TOKENS_CTE
from autonomous_orchestrator_ai_spark.plans.similarity_queries import _cos_sql
from autonomous_orchestrator_ai_spark.routes import record_route

#: the pinned bag-of-words query for the BM25 demo — common + mid + rare
#: corpus terms so idf actually spreads
_BM25_TERMS = ("spark", "join", "window")


@register(
    "bm25_search_topk",
    oracle=f"""
    WITH {_TOKENS_CTE},
    q AS (SELECT * FROM (VALUES ('spark'), ('join'), ('window')) AS v(token)),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM tokens GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    hits AS (SELECT t.doc_id, t.token FROM tokens t JOIN q USING (token)),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM hits GROUP BY doc_id, token),
    df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM hits GROUP BY token),
    scored AS (
      SELECT tf.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
             SUM(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))) AS score
      FROM tf JOIN df USING (token) JOIN dl USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf.doc_id)
    SELECT doc_id, n_hit_terms, ROUND(score, 6) AS score
    FROM scored ORDER BY ROUND(score, 6) DESC, doc_id LIMIT 15
    """,
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 documents by Okapi BM25 (k1=1.2, b=0.75) for the pinned
    query {spark, join, window}. df/avgdl come from the FULL corpus; the
    rounded score is the sort key (6dp — cross-engine float-sum noise
    cannot reorder, doc_id breaks ties) and the top-k is
    TakeOrderedAndProject, never a global sort."""
    docs = ensure_min_parallelism(table(spark, sf_dir, "documents"))
    scored = bm25_scores(docs, list(_BM25_TERMS))
    return (
        scored.select(
            "doc_id", "n_hit_terms", F.round("score", 6).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(15)
    )


@register(
    "hard_negative_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS query_label,
                      embedding AS qe
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, q.query_label, e.vec_id AS neighbor_id,
             e.label AS neighbor_label,
             {_cos_sql("q.qe", "e.embedding")} AS sim
      FROM embeddings e CROSS JOIN q
      WHERE e.label <> q.query_label),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM scored)
    SELECT query_id, query_label, neighbor_id, neighbor_label,
           ROUND(sim, 6) AS cosine_sim, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= 5
    """,
)
def hard_negative_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives for query vectors vec_id<10: the top-5
    most cosine-similar corpus vectors whose LABEL DIFFERS
    (similarity.hard_negatives) — the near-miss negatives metric-learning
    batches are built from. Broadcast query batch, one corpus scan,
    label-mismatch filter before the per-query ranking window."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return hard_negatives(emb, queries, k=5)


@register(
    "rfm_customer_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS custkey,
             date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                       DATE '2001-09-01') AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                  AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey),
    tiled AS (
      SELECT *,
             NTILE(4) OVER (ORDER BY recency_days DESC, custkey) AS r,
             NTILE(4) OVER (ORDER BY frequency ASC, custkey) AS f,
             NTILE(4) OVER (ORDER BY monetary ASC, custkey) AS m
      FROM base)
    SELECT 'R' || r || 'F' || f || 'M' || m AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(AVG(recency_days), 2) AS avg_recency_days,
           ROUND(AVG(frequency), 2) AS avg_frequency,
           CAST(ROUND(SUM(CAST(monetary AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_monetary
    FROM tiled GROUP BY segment
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation profile: per-customer recency/frequency/monetary
    quartile scores (4 = best; as-of 2001-09-01) rolled up to the <=64
    R*F*M segments (operators.mlstats.rfm_segments). The ntile windows
    rank the per-CUSTOMER aggregate — the dimension table, not the fact
    table — and every window has a unique tie-break, so the assignment is
    a total order. The global ntile is the exact anchor (whitelisted like
    value_equidepth_histogram)."""
    orders = table(spark, sf_dir, "orders")
    seg = rfm_segments(orders, "2001-09-01")
    return seg.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg("recency_days"), 2).alias("avg_recency_days"),
        F.round(F.avg("frequency"), 2).alias("avg_frequency"),
        # exact decimal sum (registry.exact_money_sum pattern): a segment
        # AVERAGE would divide into a double whose shortest-repr boundary
        # (x.445) Spark and DuckDB round in opposite directions
        F.round(F.sum(F.col("monetary").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total_monetary"),
    )


@register(
    "event_type_time_mutual_info",
    oracle="""
    WITH pairs AS (
      SELECT 'event_type' AS x_col, 'hour' AS y_col,
             event_type AS x, CAST(EXTRACT(hour FROM ts) AS VARCHAR) AS y
      FROM events
      UNION ALL
      SELECT 'event_type', 'weekday',
             event_type, CAST(EXTRACT(isodow FROM ts) AS VARCHAR)
      FROM events),
    joint AS (
      SELECT x_col, y_col, x, y, CAST(COUNT(*) AS BIGINT) AS nxy
      FROM pairs GROUP BY x_col, y_col, x, y),
    tot AS (SELECT x_col, y_col, SUM(nxy) AS n FROM joint
            GROUP BY x_col, y_col),
    px AS (SELECT x_col, y_col, x, SUM(nxy) AS nx FROM joint
           GROUP BY x_col, y_col, x),
    py AS (SELECT x_col, y_col, y, SUM(nxy) AS ny FROM joint
           GROUP BY x_col, y_col, y),
    mi AS (
      SELECT j.x_col, j.y_col,
             SUM(j.nxy * 1.0 / t.n
                 * ln((j.nxy * t.n * 1.0) / (px.nx * py.ny))) AS mi
      FROM joint j
      JOIN tot t USING (x_col, y_col)
      JOIN px ON j.x_col = px.x_col AND j.y_col = px.y_col AND j.x = px.x
      JOIN py ON j.x_col = py.x_col AND j.y_col = py.y_col AND j.y = py.y
      GROUP BY j.x_col, j.y_col),
    hx AS (SELECT px.x_col, px.y_col,
                  -SUM(nx * 1.0 / t.n * ln(nx * 1.0 / t.n)) AS h_x
           FROM px JOIN tot t USING (x_col, y_col)
           GROUP BY px.x_col, px.y_col),
    hy AS (SELECT py.x_col, py.y_col,
                  -SUM(ny * 1.0 / t.n * ln(ny * 1.0 / t.n)) AS h_y
           FROM py JOIN tot t USING (x_col, y_col)
           GROUP BY py.x_col, py.y_col)
    SELECT t.x_col, t.y_col, CAST(t.n AS BIGINT) AS n,
           ROUND(h_x, 6) AS entropy_x, ROUND(h_y, 6) AS entropy_y,
           ROUND(mi.mi, 6) AS mi_nats,
           ROUND(CASE WHEN h_x * h_y > 0 THEN mi.mi / sqrt(h_x * h_y)
                      ELSE 0.0 END, 6) AS normalized_mi
    FROM tot t JOIN mi USING (x_col, y_col) JOIN hx USING (x_col, y_col)
    JOIN hy USING (x_col, y_col)
    """,
)
def event_type_time_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event_type and the hour / ISO weekday
    of the event (operators.mlstats.mutual_information) — does behavior
    depend on time-of-day or day-of-week, and how strongly (normalized
    MI)? The feature-screen / drift-probe primitive: run it feature-vs-
    label before training and feature-vs-feature across pipeline stages
    to catch leaks. Both pairs come out of ONE scan of events
    (mutual_information_pairs explodes the pair list inline); marginals
    derive from the joint, so the corpus is never re-read."""
    events = table(spark, sf_dir, "events")
    return mutual_information_pairs(
        events,
        [
            ("event_type", "event_type", "hour", F.hour("ts").cast("string")),
            # weekday: 1=Mon..7=Sun, = isodow
            ("event_type", "event_type", "weekday",
             (F.weekday("ts") + 1).cast("string")),
        ],
    )


@register(
    "order_priority_woe_iv",
    oracle="""
    WITH per_cat AS (
      SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), '<NULL>')
               AS category,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                  AS BIGINT) AS n_event,
             CAST(COUNT(CASE WHEN o_orderstatus <> 'F' THEN 1 END)
                  AS BIGINT) AS n_non_event,
             CAST(COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END)
                  AS BIGINT) AS n_null_target
      FROM orders GROUP BY 1),
    tot AS (SELECT SUM(n_event) AS te, SUM(n_non_event) AS tne,
                   COUNT(*) AS nc FROM per_cat)
    SELECT category, n, n_event, n_non_event, n_null_target,
           ROUND(ln(((n_event + 0.5) / (te + 0.5 * nc))
                    / ((n_non_event + 0.5) / (tne + 0.5 * nc))), 6) AS woe,
           ROUND(((n_event + 0.5) / (te + 0.5 * nc)
                  - (n_non_event + 0.5) / (tne + 0.5 * nc))
                 * ln(((n_event + 0.5) / (te + 0.5 * nc))
                      / ((n_non_event + 0.5) / (tne + 0.5 * nc))),
                 6) AS iv_contrib
    FROM per_cat CROSS JOIN tot
    """,
)
def order_priority_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value screen of o_orderpriority
    against the binary target o_orderstatus = 'F' (order fully shipped)
    — the classical scorecard feature audit (operators.mlstats.woe_iv;
    SUM(iv_contrib) is the feature's IV). Smoothed (0.5/cell) so an
    all-one-class category stays finite. One count shuffle on the
    feature key; totals broadcast."""
    orders = table(spark, sf_dir, "orders")
    return woe_iv(
        orders, "o_orderpriority", F.col("o_orderstatus") == F.lit("F")
    )


_RRF_K = 60
_LEG_DEPTH = 100


@register(
    "hybrid_rrf_topk",
    oracle=f"""
    WITH {_TOKENS_CTE},
    qt AS (SELECT DISTINCT token FROM tokens WHERE doc_id = 0),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM tokens GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    hits AS (SELECT t.doc_id, t.token FROM tokens t JOIN qt USING (token)),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM hits GROUP BY doc_id, token),
    df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM hits GROUP BY token),
    bm AS (
      SELECT tf.doc_id,
             SUM(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))) AS score
      FROM tf JOIN df USING (token) JOIN dl USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf.doc_id),
    sparse AS (
      SELECT doc_id, ROUND(score, 6) AS s FROM bm WHERE doc_id <> 0
      ORDER BY ROUND(score, 6) DESC, doc_id LIMIT {_LEG_DEPTH}),
    sparse_r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rnk
      FROM sparse),
    qv AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
    dense AS (
      SELECT e.vec_id AS doc_id,
             ROUND({_cos_sql("e.embedding", "qv.e")}, 6) AS s
      FROM embeddings e CROSS JOIN qv
      WHERE e.vec_id <> 0
      ORDER BY ROUND({_cos_sql("e.embedding", "qv.e")}, 6) DESC, e.vec_id
      LIMIT {_LEG_DEPTH}),
    dense_r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rnk
      FROM dense),
    fused AS (
      SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
             s.rnk AS rank_sparse, d.rnk AS rank_dense,
             COALESCE(1.0 / ({_RRF_K} + s.rnk), 0)
               + COALESCE(1.0 / ({_RRF_K} + d.rnk), 0) AS rrf
      FROM sparse_r s FULL OUTER JOIN dense_r d ON s.doc_id = d.doc_id)
    SELECT doc_id, rank_sparse, rank_dense, ROUND(rrf, 6) AS rrf_score
    FROM fused ORDER BY ROUND(rrf, 6) DESC, doc_id LIMIT 15
    """,
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by query-by-example on document 0: the sparse leg
    is BM25 over doc 0's distinct tokens, the dense leg is embedding
    cosine against doc 0's vector, fused with reciprocal-rank fusion
    (operators.retrieval.rrf_fuse, k=60) — THE standard two-tower RAG
    retrieval pattern, with no score calibration across legs.

    Each leg keeps its top-100 via TakeOrderedAndProject (rounded score +
    id tie-break, so the cut and the ranks are engine-deterministic);
    the in-leg row_number then ranks a 100-row frame (post-limit, benign
    — whitelisted like join_key_skew_profile). Fusion is a full-outer
    join of two <=100-row frames."""
    from autonomous_orchestrator_ai_spark.operators.scoring import (
        explode_tokens,
    )
    from autonomous_orchestrator_ai_spark.operators.similarity import (
        _as_double_array,
        cosine,
    )
    from pyspark.sql import Window

    docs = ensure_min_parallelism(table(spark, sf_dir, "documents"))
    emb = table(spark, sf_dir, "embeddings")

    q_tokens = (
        explode_tokens(docs.filter(F.col("doc_id") == 0), "doc_id", "text")
        .select("token")
        .distinct()
    )
    sparse = (
        bm25_scores(docs, q_tokens)
        .filter(F.col("doc_id") != 0)
        .select("doc_id", F.round("score", 6).alias("s"))
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(_LEG_DEPTH)
    )
    qv = emb.filter(F.col("vec_id") == 0).select(
        _as_double_array("embedding").alias("qv")
    )
    dense = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine(_as_double_array("embedding"), F.col("qv")), 6
            ).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(_LEG_DEPTH)
    )
    w = Window.orderBy(F.desc("s"), F.asc("doc_id"))
    legs = [
        (name, df.withColumn("rank", F.row_number().over(w).cast("bigint")))
        for name, df in (("sparse", sparse), ("dense", dense))
    ]
    fused = rrf_fuse(legs, id_col="doc_id", k=_RRF_K)
    return (
        fused.select(
            "doc_id",
            "rank_sparse",
            "rank_dense",
            F.round("rrf_score", 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(15)
    )


@register(
    "knn_label_disagreement",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS query_label,
                      embedding AS qe
               FROM embeddings WHERE vec_id < 100),
    scored AS (
      SELECT q.query_id, q.query_label, e.vec_id AS neighbor_id,
             e.label AS neighbor_label,
             {_cos_sql("q.qe", "e.embedding")} AS sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM scored),
    agg AS (
      SELECT query_id, query_label,
             CAST(COUNT(*) AS BIGINT) AS n_neighbors,
             ROUND(AVG(CASE WHEN neighbor_label <> query_label
                            THEN 1.0 ELSE 0.0 END), 2) AS disagree_rate
      FROM ranked WHERE rn <= 5 GROUP BY query_id, query_label)
    SELECT query_id, query_label, n_neighbors, disagree_rate
    FROM agg ORDER BY disagree_rate DESC, query_id LIMIT 15
    """,
)
def knn_label_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen (confident-learning style): for each query
    vector (vec_id<100) the fraction of its 5 nearest cosine neighbors
    carrying a DIFFERENT label — a vector whose neighborhood votes
    against its label is a mislabeling suspect. Top-15 most-suspect
    vectors; disagree_rate is an exact multiple of 0.2, so ordering is
    float-hazard-free. Same broadcast-queries / one-scan / per-query
    window shape as cosine_topk; knn_label_disagreement_lsh is the
    corpus-wide twin (every vector a query, LSH-bucketed candidates)."""
    from autonomous_orchestrator_ai_spark.operators.similarity import (
        cosine_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)
    nn = cosine_topk(emb, queries, k=5)
    labels = emb.select("vec_id", "label")
    joined = (
        nn.join(
            labels.withColumnRenamed("vec_id", "query_id")
            .withColumnRenamed("label", "query_label"),
            "query_id",
        )
        .join(
            labels.withColumnRenamed("vec_id", "neighbor_id")
            .withColumnRenamed("label", "neighbor_label"),
            "neighbor_id",
        )
    )
    agg = joined.groupBy("query_id", "query_label").agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.round(
            F.avg(
                F.when(
                    F.col("neighbor_label") != F.col("query_label"), 1.0
                ).otherwise(0.0)
            ),
            2,
        ).alias("disagree_rate"),
    )
    return agg.orderBy(
        F.desc("disagree_rate"), F.asc("query_id")
    ).limit(15)


from autonomous_orchestrator_ai_spark.plans.scoring_queries import (  # noqa: E402
    _SCORE_SQL,
)
from autonomous_orchestrator_ai_spark.plans.text_queries import (  # noqa: E402
    _TOKEN_COUNT,
)


@register(
    "classifier_calibration_report",
    oracle=f"""
    WITH scored AS (
      SELECT {_SCORE_SQL} AS p,
             CASE WHEN {_TOKEN_COUNT} >= 30 THEN 1.0 ELSE 0.0 END AS y
      FROM documents),
    binned AS (
      SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin, p, y
      FROM scored)
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(p), 6) AS avg_confidence,
           ROUND(AVG(y), 6) AS pos_rate,
           ROUND(ABS(ROUND(AVG(p), 6) - ROUND(AVG(y), 6)), 6) AS calib_gap
    FROM binned GROUP BY bin
    """,
)
def classifier_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the hashed-linear quality classifier
    against the exact proxy label token_count >= 30: per confidence
    decile, mean predicted probability vs empirical positive rate and
    their gap (the per-bin term of Expected Calibration Error). The
    model-readiness screen you run before trusting classifier-gated
    filtering at corpus scale — a score can rank well and still be
    mis-calibrated, silently shifting the volume a 0.5 threshold keeps.
    Pure per-row scoring + one bounded (<=10 bins) aggregation;
    calib_gap is computed from the ROUNDED aggregates on both engines so
    the subtraction can't reintroduce float noise."""
    from autonomous_orchestrator_ai_spark.functions.text import token_count
    from autonomous_orchestrator_ai_spark.operators.classify import (
        hashed_linear_score,
    )

    docs = ensure_min_parallelism(table(spark, sf_dir, "documents"))
    p = hashed_linear_score("text")
    y = F.when(token_count("text") >= 30, 1.0).otherwise(0.0)
    binned = docs.select(
        F.least(F.floor(p * 10), F.lit(9)).cast("bigint").alias("bin"),
        p.alias("p"),
        y.alias("y"),
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("p"), 6).alias("avg_confidence"),
        F.round(F.avg("y"), 6).alias("pos_rate"),
    )
    return agg.withColumn(
        "calib_gap",
        F.round(F.abs(F.col("avg_confidence") - F.col("pos_rate")), 6),
    )


@register(
    "error_events_value_tier_pit",
    oracle="""
    WITH tiered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN value < 50 THEN 'low'
                  WHEN value < 200 THEN 'mid'
                  ELSE 'high' END AS tier
      FROM events),
    ordered AS (
      SELECT user_id, ts, event_id, tier,
             LAG(tier) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_tier
      FROM tiered),
    changes AS (
      SELECT user_id, ts, event_id, tier FROM ordered
      WHERE prev_tier IS NULL OR tier <> prev_tier),
    iv AS (
      SELECT user_id, tier, ts AS vf,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS vt
      FROM changes)
    SELECT iv.tier,
           CAST(COUNT(*) AS BIGINT) AS n_errors,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM tiered e JOIN iv
      ON e.user_id = iv.user_id
     AND e.ts >= iv.vf AND (iv.vt IS NULL OR e.ts < iv.vt)
    WHERE e.event_type = 'error'
    GROUP BY iv.tier
    """,
)
def error_events_value_tier_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature lookup (the feature-store correctness
    pattern): build an SCD2 value-tier dimension from each user's event
    stream (operators.snapshot.scd2_intervals over tier = low/mid/high
    CASE on value), then join every ERROR event to the tier interval
    covering its timestamp — 'what state was this user in when the error
    happened', with no leakage from future state. The join is an equi
    join on user_id plus the interval predicate, so it sort-merges on
    the user key and the non-equi filter runs within per-user groups
    (bounded by that user's change count) — never a global range join.
    Intervals are half-open [valid_from, valid_to): an event AT a change
    instant belongs to the interval it starts."""
    from autonomous_orchestrator_ai_spark.operators.snapshot import (
        scd2_intervals,
    )

    events = table(spark, sf_dir, "events")
    tiered = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 200, "mid")
        .otherwise("high")
        .alias("tier"),
    )
    iv = scd2_intervals(
        tiered, ["user_id"], "ts", ["tier"], tie_cols=["event_id"]
    ).select(
        F.col("user_id").alias("iv_user"),
        "tier",
        "valid_from",
        "valid_to",
    )
    errors = tiered.filter(F.col("event_type") == "error").select(
        "user_id", "ts"
    )
    joined = errors.join(
        iv,
        (F.col("user_id") == F.col("iv_user"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_errors"),
        F.count_distinct("user_id").alias("n_users"),
    )


@register(
    "token_pmi_pairs",
    oracle=f"""
    WITH {_TOKENS_CTE},
    dt AS (SELECT DISTINCT doc_id, token FROM tokens),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM dt),
    marg AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
             FROM dt GROUP BY token),
    pairs AS (
      SELECT a.token AS token_a, b.token AS token_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM dt a JOIN dt b
        ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY a.token, b.token),
    pmi AS (
      SELECT p.token_a, p.token_b, p.n_both,
             ROUND(ln((p.n_both * n.n_docs * 1.0)
                      / (ma.df * mb.df)), 6) AS pmi
      FROM pairs p
      JOIN marg ma ON p.token_a = ma.token
      JOIN marg mb ON p.token_b = mb.token
      CROSS JOIN n
      WHERE p.n_both >= 5)
    SELECT token_a, token_b, n_both, pmi
    FROM pmi ORDER BY pmi DESC, token_a, token_b LIMIT 15
    """,
)
def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 token pairs by document-level pointwise mutual information
    (PMI = ln(P(a,b) / P(a)P(b)) over document co-occurrence, support
    >= 5 docs) — the distributional-semantics screen for collocations
    and template artifacts in a training corpus (a synthetic boilerplate
    pair lights up with high PMI + high support). The per-doc distinct
    token self-join is bounded by per-document vocabulary (never corpus
    size), marginals are one token-keyed count, and the rounded PMI is
    the sort key with the pair as tie-break."""
    from autonomous_orchestrator_ai_spark.operators.scoring import (
        explode_tokens,
    )

    docs = ensure_min_parallelism(table(spark, sf_dir, "documents"))
    # r10 (guide §2.3/§2.4): the pair relation is generated MAP-SIDE from
    # each document's sorted distinct-token array instead of the former
    # explode -> distinct -> self-join on doc_id — that join re-shuffled
    # the corpus-scaled (doc, token) table twice and streamed the same
    # per-doc vocab² pairs the arrays now emit directly. collect_set ==
    # the old distinct (one exchange, partially aggregated map-side);
    # `x > token_a` uses the same binary string comparator as the old
    # `token_a < token_b` filter, so the pair set is identical. Per-row
    # transient cost is bounded by per-document vocabulary (the filter
    # slices one array per (doc, token) row), never corpus size.
    arrs = (
        explode_tokens(docs, "doc_id", "text")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("token")).alias("__ts"))
    )
    n = arrs.agg(F.count(F.lit(1)).alias("n_docs"))
    marg = (
        arrs.select(F.explode("__ts").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    pairs = (
        arrs.select(F.explode("__ts").alias("token_a"), "__ts")
        .select(
            "token_a",
            F.explode(
                F.filter("__ts", lambda x: x > F.col("token_a"))
            ).alias("token_b"),
        )
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 5)
    )
    pmi = (
        pairs.join(
            F.broadcast(marg.withColumnRenamed("token", "token_a")
                        .withColumnRenamed("df", "df_a")),
            "token_a",
        )
        .join(
            F.broadcast(marg.withColumnRenamed("token", "token_b")
                        .withColumnRenamed("df", "df_b")),
            "token_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "token_a",
            "token_b",
            "n_both",
            F.round(
                F.log(
                    (F.col("n_both") * F.col("n_docs"))
                    / (F.col("df_a") * F.col("df_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return pmi.orderBy(
        F.desc("pmi"), F.asc("token_a"), F.asc("token_b")
    ).limit(15)


@register(
    "embedding_dim_correlation",
    oracle="""
    WITH comps AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    marg AS (
      SELECT dim, COUNT(*) AS n, SUM(v) AS sx, SUM(v * v) AS sxx
      FROM comps GROUP BY dim),
    pair AS (
      SELECT a.dim AS dim_i, b.dim AS dim_j, SUM(a.v * b.v) AS sxy
      FROM comps a JOIN comps b
        ON a.vec_id = b.vec_id AND a.dim < b.dim
      GROUP BY a.dim, b.dim),
    corr AS (
      SELECT p.dim_i, p.dim_j,
             ROUND((ma.n * p.sxy - ma.sx * mb.sx)
                   / sqrt((ma.n * ma.sxx - ma.sx * ma.sx)
                          * (mb.n * mb.sxx - mb.sx * mb.sx)), 6) AS r
      FROM pair p
      JOIN marg ma ON p.dim_i = ma.dim
      JOIN marg mb ON p.dim_j = mb.dim)
    SELECT dim_i, dim_j, r AS pearson_r
    FROM corr ORDER BY ABS(r) DESC, dim_i, dim_j LIMIT 15
    """,
)
def embedding_dim_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 most-correlated embedding dimension pairs (|Pearson r|) —
    the redundancy screen next to embedding_dim_profile: strongly
    correlated dimensions waste index capacity and bias IVF/PQ subspace
    splits, and are the first thing PCA/whitening would remove. The
    per-vector pair join multiplies rows by dim*(dim-1)/2 but stays
    LINEAR in the corpus (pairs of dimensions, never pairs of vectors);
    marginal moments are one posexplode aggregate broadcast into the
    bounded (<= d^2/2 rows) pair table. Ranking is on the rounded
    coefficient with the dim pair as tie-break."""
    emb = table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v0")
    ).select("vec_id", "dim", F.col("v0").cast("double").alias("v"))
    marg = comps.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sx"),
        F.sum(F.col("v") * F.col("v")).alias("sxx"),
    )
    a = comps.select("vec_id", F.col("dim").alias("dim_i"), F.col("v").alias("va"))
    b = comps.select("vec_id", F.col("dim").alias("dim_j"), F.col("v").alias("vb"))
    pair = (
        a.join(b, "vec_id")
        .filter(F.col("dim_i") < F.col("dim_j"))
        .groupBy("dim_i", "dim_j")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("sxy"))
    )
    ma = marg.select(
        F.col("dim").alias("dim_i"), F.col("n").alias("n"),
        F.col("sx").alias("sx_i"), F.col("sxx").alias("sxx_i"),
    )
    mb = marg.select(
        F.col("dim").alias("dim_j"),
        F.col("sx").alias("sx_j"), F.col("sxx").alias("sxx_j"),
    )
    corr = (
        pair.join(F.broadcast(ma), "dim_i")
        .join(F.broadcast(mb), "dim_j")
        .select(
            "dim_i",
            "dim_j",
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx_i") * F.col("sx_j"))
                / F.sqrt(
                    (F.col("n") * F.col("sxx_i") - F.col("sx_i") * F.col("sx_i"))
                    * (F.col("n") * F.col("sxx_j") - F.col("sx_j") * F.col("sx_j"))
                ),
                6,
            ).alias("pearson_r"),
        )
    )
    return corr.orderBy(
        F.desc(F.abs(F.col("pearson_r"))), F.asc("dim_i"), F.asc("dim_j")
    ).limit(15)


def _poisson_case_sql(u: str) -> str:
    from autonomous_orchestrator_ai_spark.operators.mlstats import (
        _POISSON1_CDF,
    )

    whens = " ".join(
        f"WHEN {u} < {cdf!r} THEN {k}" for cdf, k in _POISSON1_CDF
    )
    return f"(CASE {whens} ELSE 7 END)"


_BOOT_U = (
    "(CAST(('0x' || substr(md5('bs' || r || ':' || CAST(doc_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) / 4294967296.0)"
)
_N_REPS = 20


from autonomous_orchestrator_ai_spark.plans.text_queries import (  # noqa: E402
    _QUALITY,
)


@register(
    "quality_score_bootstrap_ci",
    oracle=f"""
    WITH reps AS (SELECT r FROM generate_series(-1, {_N_REPS - 1}) t(r)),
    w AS (
      SELECT d.source, reps.r, {{Q}} AS v,
             CASE WHEN reps.r = -1 THEN 1
                  ELSE {{POIS}} END AS w
      FROM documents d CROSS JOIN reps),
    per_rep AS (
      SELECT source, r,
             SUM(w * v) / SUM(w) AS mean_v,
             COUNT(*) AS n
      FROM w GROUP BY source, r),
    agg AS (
      SELECT source,
             MAX(CASE WHEN r = -1 THEN n END) AS n_rows,
             MAX(CASE WHEN r = -1 THEN mean_v END) AS point,
             AVG(CASE WHEN r >= 0 THEN mean_v END) AS bm,
             AVG(CASE WHEN r >= 0 THEN mean_v * mean_v END) AS bsq
      FROM per_rep GROUP BY source)
    SELECT source,
           CAST(n_rows AS BIGINT) AS n_rows,
           ROUND(point, 6) AS point_mean,
           ROUND(sqrt(bsq - bm * bm), 6) AS boot_se,
           ROUND(point - 1.96 * sqrt(bsq - bm * bm), 6) AS ci_lo,
           ROUND(point + 1.96 * sqrt(bsq - bm * bm), 6) AS ci_hi
    FROM agg
    """.replace("{Q}", _QUALITY).replace("{POIS}", _poisson_case_sql(_BOOT_U)),
)
def quality_score_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean quality score
    per source (operators.mlstats.poisson_bootstrap_mean, Chamandy et
    al. 2012): every row draws 20 deterministic md5-seeded Poisson(1)
    weights, so the whole bootstrap — point estimate (replicate -1,
    weight 1) + 20 replicate means + SE + normal CI — is ONE scan, one
    explode and one aggregation ladder; no resampling passes, no
    driver-side randomness, identical draws on any cluster size or
    engine. THE 'measure, don't guess' primitive: quality-gate deltas
    between sources are only real when their CIs separate."""
    from autonomous_orchestrator_ai_spark.functions.text import quality_score

    docs = ensure_min_parallelism(table(spark, sf_dir, "documents"))
    return poisson_bootstrap_mean(
        docs,
        quality_score("text"),
        F.col("doc_id"),
        group_cols=("source",),
        n_replicates=_N_REPS,
    )


def _lsh_disagreement_sql(
    k: int,
    n_planes: int,
    n_tables: int,
    dim: int,
    seed: int,
    multiprobe: bool = True,
    bucket_cap: int | None = None,
) -> str:
    """Corpus-wide LSH mislabel screen oracle: same derandomized-LSH
    unrolling as similarity_queries._lsh_oracle_sql (seeded hyperplane
    literals -> bucketing, 1-bit multiprobe, bucket equi-join, exact
    re-rank are plain SQL), but EVERY vector is a query and the ranked
    neighbors feed the label-disagreement aggregation instead of being
    returned raw."""
    from autonomous_orchestrator_ai_spark.operators.similarity import (
        hyperplanes,
    )

    rows = []
    for t in range(n_tables):
        for p, plane in enumerate(hyperplanes(dim, n_planes, seed + 1000 * t)):
            lit = "[" + ",".join(repr(float(x)) for x in plane) + "]"
            rows.append(f"({t}, {p}, {lit})")
    flips = ", ".join(
        f"({f})" for f in ([-1, *range(n_planes)] if multiprobe else [-1])
    )
    return f"""
    WITH planes(table_id, plane_id, plane) AS (VALUES {",".join(rows)}),
    cb AS (
      SELECT e.vec_id, p.table_id,
             SUM(CASE WHEN list_sum(list_transform(range(1, {dim}+1),
                   i -> CAST(e.embedding[i] AS DOUBLE) * p.plane[i])) >= 0
                 THEN CAST(1 << p.plane_id AS BIGINT)
                 ELSE 0 END) AS bucket
      FROM embeddings e CROSS JOIN planes p
      GROUP BY e.vec_id, p.table_id),
    qp AS (
      SELECT DISTINCT b.vec_id AS query_id, b.table_id,
             CASE WHEN f.flip < 0 THEN b.bucket
                  ELSE xor(b.bucket, CAST(1 << f.flip AS BIGINT))
             END AS bucket
      FROM cb b CROSS JOIN (VALUES {flips}) AS f(flip)),
    cbc AS (
      SELECT vec_id, table_id, bucket FROM (
        SELECT vec_id, table_id, bucket,
               ROW_NUMBER() OVER (PARTITION BY table_id, bucket
                 ORDER BY md5('lshcap:' || CAST(table_id AS VARCHAR) || '|'
                              || CAST(bucket AS VARCHAR) || '|'
                              || CAST(vec_id AS VARCHAR)), vec_id)
                 AS brn
        FROM cb)
      WHERE brn <= {{CAP}}),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
      FROM qp q JOIN cbc c
        ON q.table_id = c.table_id AND q.bucket = c.bucket
      WHERE c.vec_id <> q.query_id),
    scored AS (
      SELECT cd.query_id, cd.neighbor_id,
             {{COS}} AS sim
      FROM cand cd
      JOIN embeddings qe ON qe.vec_id = cd.query_id
      JOIN embeddings ne ON ne.vec_id = cd.neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) rn
      FROM scored),
    agg AS (
      SELECT r.query_id, ql.label AS query_label,
             CAST(COUNT(*) AS BIGINT) AS n_neighbors,
             ROUND(AVG(CASE WHEN nl.label <> ql.label
                            THEN 1.0 ELSE 0.0 END), 2) AS disagree_rate
      FROM ranked r
      JOIN embeddings ql ON ql.vec_id = r.query_id
      JOIN embeddings nl ON nl.vec_id = r.neighbor_id
      WHERE r.rn <= {k}
      GROUP BY r.query_id, ql.label)
    SELECT query_id, query_label, n_neighbors, disagree_rate
    FROM agg ORDER BY disagree_rate DESC, query_id LIMIT 15
    """.replace("{COS}", _cos_sql("qe.embedding", "ne.embedding")).replace(
        "{CAP}", str(bucket_cap if bucket_cap is not None else 1 << 62)
    )


#: SCREENING CAP (r9, VERDICT r8 item 7 — justified by the measured
#: recall tables in RECALL_SCREENS_*.json): this module's corpus-wide
#: mislabel screen caps buckets at 64 = the auto_planes expected bucket
#: size, so the guard binds only on skew.
#: The r8 sf10 recall table prices it: banding costs 0.4% of exact top-5,
#: the cap-64 sample a further ~16% of neighbor IDENTITY — acceptable
#: here because the screen consumes neighbor LABELS, and the same-cluster
#: stand-ins the cap substitutes carry the same labels. Without the cap,
#: a mass-duplicated corpus (~1000 near-copies per base vector at sf100)
#: makes the bucket join quadratic in hot-bucket size (measured >78 GB
#: spill, round-6 octave probe).
SCREENING_BUCKET_CAP = 64
_SCREEN_BUCKET_CAP = SCREENING_BUCKET_CAP

#: cost-routed multiprobe for the corpus-wide screen (r9, VERDICT r8
#: item 6): at 2k vectors / 5 planes the own-bucket single-probe screen
#: is candidate-starved (measured recall@5 = 0.348 at sf0.1 — the
#: no-duplicate-cluster floor), while 1-bit multiprobe multiplies
#: candidates by (1 + n_planes) = O(log n) — measured ~1000 s vs ~60 s
#: at sf10 for the same screening answer. So the probe set is ROUTED by
#: the same replayable integer pricing as the dedup guards: multiprobed
#: candidate volume ~= n_queries x n_tables x (1 + n_planes) x cap rows
#: x ~20 B; enable the flips only under the budget. 256 MiB puts the
#: crossover between sf0.1 (61 MB -> ON, recall floor lifted) and sf1
#: (~0.9 GB -> OFF) — small corpora get the recall, corpus-scaled
#: screens keep the linear fan-out. Both engines compute the identical
#: estimate (DuckDB counts the parquet), so the probe set can never
#: diverge between the query and its oracle.
_SCREEN_PROBE_ROW_BYTES = 20
_SCREEN_PROBE_BUDGET_BYTES = 256 * 1024**2


def _screen_multiprobe_route(n_vectors: int, n_planes: int) -> bool:
    est = (
        n_vectors
        * 4
        * (1 + n_planes)
        * SCREENING_BUCKET_CAP
        * _SCREEN_PROBE_ROW_BYTES
    )
    return record_route(
        "screen_multiprobe",
        inputs={"n_vectors": n_vectors, "n_planes": n_planes},
        estimate=est,
        budget=_SCREEN_PROBE_BUDGET_BYTES,
        chosen=est <= _SCREEN_PROBE_BUDGET_BYTES,
    )


#: rescore-after-dedup route (r9, performance-only — the two branches are
#: bit-identical, so unlike the multiprobe route the oracle never needs to
#: replay this decision): scoring per unique pair instead of per (table,
#: probe) collision requires re-attaching vectors by BROADCAST, i.e. both
#: vector tables must fit executor memory. Priced at dim x 8 B + ~48 B of
#: row overhead per vector, x2 (corpus + query tables are the same corpus
#: in the self-screen). 64 MiB keeps it ON through sf1 (~20k vectors,
#: ~11 MB) and OFF from sf10 (~200k vectors, ~110 MB), where the map-side
#: per-collision scoring — which never ships a vector through a shuffle —
#: remains the scale-safe plan.
_RESCORE_VEC_ROW_OVERHEAD = 48
_SCREEN_RESCORE_BUDGET_BYTES = 64 * 1024**2

#: one constant shared by the rescore route's pricing, the Spark plan and
#: the oracle builder (ADVICE r9: a hardcoded dim default in the route,
#: decoupled from the dim passed to lsh_bucketed_topk, would misprice
#: silently if the screen's dim ever changed)
_SCREEN_DIM = 64


def _screen_rescore_route(n_vectors: int, dim: int = _SCREEN_DIM) -> bool:
    est = 2 * n_vectors * (dim * 8 + _RESCORE_VEC_ROW_OVERHEAD)
    return record_route(
        "screen_rescore",
        inputs={"n_vectors": n_vectors, "dim": dim},
        estimate=est,
        budget=_SCREEN_RESCORE_BUDGET_BYTES,
        chosen=est <= _SCREEN_RESCORE_BUDGET_BYTES,
    )


def _lsh_disagreement_oracle(sf_dir: str) -> str:
    """Callable oracle (see registry.resolve_oracle): the screen's plane
    count is a deterministic function of CORPUS SIZE (auto_planes), so
    the oracle must derive the same count from the same corpus — a
    static SQL string would silently pin one scale's configuration and
    hash-mismatch at every other. DuckDB counts the parquet directly
    (cheap metadata read); the driver contract still receives plain SQL
    because __spark_entry__.oracle_sql resolves this at sf0.01."""
    import duckdb

    from autonomous_orchestrator_ai_spark.operators.similarity import (
        auto_planes,
    )

    n = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    planes = auto_planes(n)
    return _lsh_disagreement_sql(
        k=5,
        n_planes=planes,
        n_tables=4,
        dim=_SCREEN_DIM,
        seed=42,
        # identical integer route as the Spark plan (r9): 1-bit flips
        # only when the priced multiprobe fan-out fits the budget
        multiprobe=_screen_multiprobe_route(n, planes),
        bucket_cap=_SCREEN_BUCKET_CAP,
    )


@register("knn_label_disagreement_lsh", oracle=_lsh_disagreement_oracle)
def knn_label_disagreement_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-wide form of knn_label_disagreement: EVERY vector is a
    query, with candidates restricted to LSH bucket collisions
    (similarity.lsh_bucketed_topk, seeded hyperplanes) instead of a
    brute-force scan per query — the shape that screens a full embedding
    corpus for mislabels at 100 TB. Deterministic end to end (the
    'approximate' part is a fixed function of corpus + seed), so it
    carries a real unrolled DuckDB oracle like lsh_ann_topk. Top-15
    most-suspect vectors; vectors with no bucket collision have no
    neighbors and drop out, exactly as the index would serve."""
    from autonomous_orchestrator_ai_spark.operators.similarity import (
        auto_planes,
        lsh_bucketed_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    # corpus-aware bucket sizing: a FIXED plane count makes candidates
    # grow as n^2/2^planes (measured 340 s at sf1 with 4 planes vs 45 s
    # with 9). The floor of 4 equals the oracle's pinned plane count at
    # the comparison scales (<=500 vectors), so the SQL stays exact
    # where the driver checks it and the query stays linear above.
    # every vector is a query -> the probe side is corpus-scaled: shuffle
    # the bucket join instead of broadcasting it. The probe SET is
    # cost-routed (r9, VERDICT r8 item 6): own-bucket-only keeps screen
    # work linear in n (candidates per query ~n_tables x 64,
    # corpus-independent under auto_planes) but starves small corpora —
    # measured recall@5 = 0.348 at 2k vectors / 5 planes, where 1-bit
    # flips are nearly free. _screen_multiprobe_route prices the
    # multiprobed fan-out with the same integer formula the oracle
    # replays, so flips engage exactly when they're affordable (sf0.1:
    # 61 MB -> ON) and stay off where they multiplied the screen ~17x
    # (~1000 s vs ~60 s at sf10). Serving paths (small query sets)
    # always multiprobe — see the cap-policy note above.
    # r10: the sizing count comes from the parquet footer (driver-side,
    # no job — registry.table_row_count) — the raw-table count the
    # callable oracle derives the same way via DuckDB.
    n_vecs = table_row_count(sf_dir, "embeddings")
    planes = auto_planes(n_vecs)
    nn = lsh_bucketed_topk(
        emb, emb, k=5, n_planes=planes, n_tables=4,
        dim=_SCREEN_DIM, broadcast_queries=False,
        multiprobe_bits=1 if _screen_multiprobe_route(n_vecs, planes) else 0,
        max_bucket_candidates=_SCREEN_BUCKET_CAP,
        # bit-identical fast path (see _screen_rescore_route): score each
        # unique pair once via broadcast re-attach while the corpus fits,
        # keep the never-ships-a-vector collision scoring at scale
        rescore_after_dedup=_screen_rescore_route(n_vecs, dim=_SCREEN_DIM),
    )
    labels = emb.select("vec_id", "label")
    joined = (
        nn.join(
            labels.withColumnRenamed("vec_id", "query_id")
            .withColumnRenamed("label", "query_label"),
            "query_id",
        )
        .join(
            labels.withColumnRenamed("vec_id", "neighbor_id")
            .withColumnRenamed("label", "neighbor_label"),
            "neighbor_id",
        )
    )
    agg = joined.groupBy("query_id", "query_label").agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.round(
            F.avg(
                F.when(
                    F.col("neighbor_label") != F.col("query_label"), 1.0
                ).otherwise(0.0)
            ),
            2,
        ).alias("disagree_rate"),
    )
    return agg.orderBy(
        F.desc("disagree_rate"), F.asc("query_id")
    ).limit(15)
