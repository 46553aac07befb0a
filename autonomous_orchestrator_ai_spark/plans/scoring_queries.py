"""Corpus-relative scoring queries (operators.scoring) with DuckDB oracles.

TF-IDF salience, unigram-LM log-probability quality, rank-trimmed robust
statistics, and the deterministic random-projection sketch. These extend the
reference's per-row quality surface (SURVEY.md §2.10) to corpus-relative
signals a training-data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.partitioning import (
    ensure_min_parallelism,
)
from autonomous_orchestrator_ai_spark.operators.scoring import (
    dsir_importance,
    random_projection,
    tfidf_terms,
    top_terms_per_doc,
    trimmed_stats,
    unigram_logprob,
    vocab_coverage,
)
from autonomous_orchestrator_ai_spark.plans.registry import register, table

# DuckDB token mirror of operators.scoring.explode_tokens: lowercase,
# whitespace-split, drop empties (empty docs contribute no rows).
_TOKENS_CTE = """
    tokens AS (
      SELECT doc_id, t AS token
      FROM documents, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS u(t)
      WHERE t <> ''
    )
"""


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH {_TOKENS_CTE},
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tokens WHERE doc_id < 50 GROUP BY doc_id, token),
    df AS (
      SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tokens GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             tf.tf * (ln((n.n_docs + 1) * 1.0 / (df.df + 1)) + 1.0) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, token, tf, df,
             ROUND(tfidf, 6) AS tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token ASC) AS rnk
      FROM scored)
    SELECT doc_id, token, tf, df, tfidf
    FROM ranked WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms for each of the first 50 docs. Document frequency
    is computed over the WHOLE corpus (statistics side, token-keyed shuffle
    join); the scored slice is broadcast into it. idf = ln((N+1)/(df+1))+1
    (smoothed, sklearn-style)."""
    docs = ensure_min_parallelism(table(spark, sf_dir, "documents"))
    scored = tfidf_terms(docs, scored_docs=docs.filter(F.col("doc_id") < 50))
    return top_terms_per_doc(
        scored.withColumn("tfidf", F.round("tfidf", 6)), k=3
    ).select("doc_id", "token", "tf", "df", "tfidf")


@register(
    "unigram_logprob_by_source",
    oracle=f"""
    WITH {_TOKENS_CTE},
    vocab AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tokens GROUP BY token),
    tot AS (SELECT SUM(cnt) AS total_tokens FROM vocab),
    per_doc AS (
      SELECT t.doc_id,
             COUNT(*) AS n_tokens,
             AVG(ln(v.cnt * 1.0 / tot.total_tokens)) AS mean_logprob
      FROM tokens t JOIN vocab v USING (token) CROSS JOIN tot
      GROUP BY t.doc_id)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(p.mean_logprob), 4) AS avg_logprob,
           ROUND(MIN(p.mean_logprob), 4) AS worst_logprob,
           ROUND(MAX(p.mean_logprob), 4) AS best_logprob
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
)
def unigram_logprob_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality signal (the CCNet perplexity proxy) rolled up by
    source: which corpus slices are full of globally-rare tokens. One
    vocabulary shuffle + one token join + two aggregations."""
    docs = ensure_min_parallelism(table(spark, sf_dir, "documents"))
    per_doc = unigram_logprob(docs)
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("mean_logprob"), 4).alias("avg_logprob"),
            F.round(F.min("mean_logprob"), 4).alias("worst_logprob"),
            F.round(F.max("mean_logprob"), 4).alias("best_logprob"),
        )
    )


@register(
    "oov_rate_by_source",
    oracle="""
    WITH tokens_src AS (
      SELECT source, t AS token
      FROM documents, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS u(t)
      WHERE t <> ''),
    counts AS (SELECT token, COUNT(*) AS cnt FROM tokens_src GROUP BY token),
    vocab AS (SELECT token FROM counts ORDER BY cnt DESC, token ASC LIMIT 16)
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
           ROUND(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS oov_token_rate,
           CAST(COUNT(DISTINCT t.token) AS BIGINT) AS distinct_types,
           CAST(COUNT(DISTINCT CASE WHEN v.token IS NULL THEN t.token END) AS BIGINT) AS oov_types,
           ROUND(COUNT(DISTINCT CASE WHEN v.token IS NULL THEN t.token END) * 1.0
                 / COUNT(DISTINCT t.token), 6) AS oov_type_rate
    FROM tokens_src t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY t.source
    """,
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rates per source against the frozen global top-16
    vocabulary (operators.scoring.vocab_coverage) — the tokenizer-planning
    report: which sources a fixed vocab under-serves, by occurrence and by
    distinct type. V=16 is sized to the synthetic corpus's 31-type
    vocabulary so the OOV boundary is actually exercised. Vocab selection
    is TakeOrderedAndProject (bounded top-k, no global sort); the vocab is
    broadcast into the token stream."""
    docs = ensure_min_parallelism(table(spark, sf_dir, "documents"))
    return vocab_coverage(docs, "source", "doc_id", "text", vocab_size=16)


@register(
    "zipf_slope_by_source",
    oracle="""
    WITH tokens_src AS (
      SELECT source, t AS token
      FROM documents, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS u(t)
      WHERE t <> ''),
    counts AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tokens_src GROUP BY source, token),
    ranked AS (
      SELECT source, cnt,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY cnt DESC, token ASC) AS rnk
      FROM counts)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(regr_slope(ln(cnt), ln(rnk)), 6) AS zipf_slope,
           ROUND(regr_r2(ln(cnt), ln(rnk)), 6) AS zipf_r2
    FROM ranked GROUP BY source
    """,
)
def zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent per source: OLS slope of ln(count) on ln(rank) over the
    source's token rank-frequency curve (slope near -1 = natural text;
    flat = synthetic/uniform, steep = repetitive). Corpus-scaled work is
    one (source, token) count shuffle; the regression runs over the
    bounded per-source type table. Natural-text health check for a
    training mix."""
    docs = ensure_min_parallelism(table(spark, sf_dir, "documents"))
    from autonomous_orchestrator_ai_spark.operators.scoring import (
        explode_tokens,
    )

    counts = (
        explode_tokens(docs.select("source", "text"), "source", "text")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("token"))
    ranked = counts.withColumn("rnk", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.regr_slope(F.log("cnt"), F.log("rnk")), 6).alias(
            "zipf_slope"
        ),
        F.round(F.regr_r2(F.log("cnt"), F.log("rnk")), 6).alias("zipf_r2"),
    )


@register(
    "trimmed_value_stats",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value ASC, event_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    kept AS (
      SELECT event_type, value FROM ranked
      WHERE rn > CAST(floor(n * 0.05) AS BIGINT)
        AND rn <= n - CAST(floor(n * 0.05) AS BIGINT))
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           ROUND(AVG(value), 4) AS trimmed_mean,
           ROUND(stddev_pop(value), 4) AS trimmed_std,
           ROUND(MIN(value), 4) AS lo_cut,
           ROUND(MAX(value), 4) AS hi_cut
    FROM kept GROUP BY event_type
    """,
)
def trimmed_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-trimmed (5% each tail) robust mean/std of events.value per type.
    Order-statistic cuts, not interpolated percentiles — exact and
    engine-portable; one shuffle serves the window and the aggregation."""
    events = table(spark, sf_dir, "events")
    out = trimmed_stats(events, "event_type", "value", "event_id", 0.05)
    return out.select(
        "event_type",
        "n_kept",
        F.round("trimmed_mean", 4).alias("trimmed_mean"),
        F.round("trimmed_std", 4).alias("trimmed_std"),
        F.round("lo_cut", 4).alias("lo_cut"),
        F.round("hi_cut", 4).alias("hi_cut"),
    )


@register(
    "random_projection_sketch",
    oracle="""
    WITH comps AS (
      SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS j,
             unnest(embedding) AS v
      FROM embeddings WHERE vec_id < 20),
    dims AS (SELECT DISTINCT j FROM comps),
    matrix AS (
      SELECT dims.j AS j, CAST(k.k AS INTEGER) AS k,
             CASE WHEN substr(md5('rp_' || dims.j || '_' || k.k), 1, 1) < '8'
                  THEN 1.0 ELSE -1.0 END AS sign
      FROM dims, generate_series(0, 7) AS k(k))
    SELECT c.vec_id, m.k,
           ROUND(SUM(c.v * m.sign), 4) AS component
    FROM comps c JOIN matrix m USING (j)
    GROUP BY c.vec_id, m.k
    """,
)
def random_projection_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss ±1 sign projection of the first 20 embeddings
    to 8 dimensions. The projection matrix is derived from md5 — identical
    on any engine, no stored model — generated inline and broadcast, so the
    operator is one broadcast join + one aggregation at any corpus size."""
    emb = ensure_min_parallelism(table(spark, sf_dir, "embeddings"))
    out = random_projection(emb.filter(F.col("vec_id") < 20), 8, seed="rp")
    return out.select(
        "vec_id", "k", F.round("component", 4).alias("component")
    )


@register(
    "dsir_importance_by_source",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source = 'src0' AS is_target,
             ('0x'||substr(md5(t),1,8))::BIGINT % 64 AS bucket
      FROM documents,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS u(t)
      WHERE t <> ''
    ),
    hist AS (
      SELECT doc_id, is_target, bucket, COUNT(*) AS cnt
      FROM toks GROUP BY doc_id, is_target, bucket
    ),
    cls AS (
      SELECT bucket,
             SUM(CASE WHEN is_target THEN cnt ELSE 0 END) AS t_cnt,
             SUM(CASE WHEN NOT is_target THEN cnt ELSE 0 END) AS r_cnt
      FROM hist GROUP BY bucket
    ),
    tot AS (SELECT SUM(t_cnt) AS t_tot, SUM(r_cnt) AS r_tot FROM cls),
    lam AS (
      SELECT bucket,
             ln(((t_cnt + 1.0) / (t_tot + 64.0))
                / ((r_cnt + 1.0) / (r_tot + 64.0))) AS lam
      FROM cls, tot
    ),
    w AS (
      SELECT hist.doc_id,
             SUM(hist.cnt * lam.lam) / SUM(hist.cnt) AS weight
      FROM hist JOIN lam USING (bucket) GROUP BY hist.doc_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(w.weight), 4) AS avg_weight,
           ROUND(MIN(w.weight), 4) AS min_weight,
           ROUND(MAX(w.weight), 4) AS max_weight
    FROM w JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
)
def dsir_importance_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data-selection weights (operators.scoring.dsir_importance)
    with source 'src0' as the target domain, summarized per source — the
    'which raw slices look most like my target domain' selection query.
    The hashed-unigram LMs and log-ratio table are exact in both engines
    (portable md5 bucket hash); only the per-doc mean is float-rounded."""
    docs = ensure_min_parallelism(table(spark, sf_dir, "documents"))
    w = dsir_importance(docs, F.col("source") == "src0")
    return (
        w.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("weight"), 4).alias("avg_weight"),
            F.round(F.min("weight"), 4).alias("min_weight"),
            F.round(F.max("weight"), 4).alias("max_weight"),
        )
    )


@register(
    "token_kl_drift_by_source",
    oracle=f"""
    WITH {_TOKENS_CTE},
    st AS (
      SELECT d.source, t.token FROM tokens t JOIN documents d USING (doc_id)),
    corpus AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM st GROUP BY token),
    vocab AS (
      SELECT token, cnt FROM corpus
      ORDER BY cnt DESC, token ASC LIMIT 200),
    vtot AS (SELECT SUM(cnt) AS vt FROM vocab),
    src_tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM st GROUP BY source),
    sv AS (
      SELECT s.source, v.token, CAST(COUNT(*) AS BIGINT) AS scnt,
             v.cnt AS ccnt
      FROM st s JOIN vocab v USING (token)
      GROUP BY s.source, v.token, v.cnt),
    svt AS (
      SELECT source, SUM(scnt) AS stot FROM sv GROUP BY source),
    terms AS (
      SELECT sv.source,
             (sv.scnt * 1.0 / svt.stot)
               * ln((sv.scnt * 1.0 / svt.stot)
                    / (sv.ccnt * 1.0 / vtot.vt)) AS term,
             sv.scnt
      FROM sv JOIN svt USING (source) CROSS JOIN vtot)
    SELECT t.source,
           st2.n_tokens,
           ROUND(SUM(t.scnt) * 1.0 / st2.n_tokens, 4) AS vocab_coverage,
           ROUND(SUM(t.term), 6) AS kl_divergence
    FROM terms t JOIN src_tot st2 USING (source)
    GROUP BY t.source, st2.n_tokens
    """,
)
def token_kl_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift: KL(source || corpus) over the
    corpus's top-200-token vocabulary, with each source's distribution
    renormalized within the vocabulary (so a source missing a vocab token
    contributes 0·ln0 = 0 and KL stays finite by construction). THE
    data-mixing observability metric: a source whose unigram distribution
    drifts from the corpus shifts the trained model's token statistics —
    this is what you alert on before retraining on a refreshed crawl.

    Scale shape: one token-keyed shuffle for corpus counts, a bounded
    TakeOrdered for the vocabulary (top-k, never a global sort), the
    vocab broadcast into the per-(source, token) aggregate, and the final
    per-source combine carries <= n_sources * 200 rows. vocab_coverage
    (share of source tokens inside the vocab) rides along so a low-KL
    source with tiny coverage can't masquerade as 'on-distribution'."""
    from autonomous_orchestrator_ai_spark.operators.scoring import (
        explode_tokens,
    )

    docs = ensure_min_parallelism(table(spark, sf_dir, "documents"))
    tok = explode_tokens(docs, "doc_id", "text").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    corpus = tok.groupBy("token").agg(F.count(F.lit(1)).alias("ccnt"))
    vocab = corpus.orderBy(F.desc("ccnt"), F.asc("token")).limit(200)
    vtot = vocab.agg(F.sum("ccnt").alias("vt"))
    src_tot = tok.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    sv = (
        tok.join(F.broadcast(vocab), "token")
        .groupBy("source", "token", "ccnt")
        .agg(F.count(F.lit(1)).alias("scnt"))
    )
    w = Window.partitionBy("source")
    terms = sv.withColumn("stot", F.sum("scnt").over(w)).crossJoin(
        F.broadcast(vtot)
    )
    p = F.col("scnt") / F.col("stot")
    q = F.col("ccnt") / F.col("vt")
    return (
        terms.groupBy("source")
        .agg(
            F.sum((p * F.log(p / q))).alias("kl"),
            F.sum("scnt").alias("v_scnt"),
        )
        .join(src_tot, "source")
        .select(
            "source",
            "n_tokens",
            F.round(F.col("v_scnt") / F.col("n_tokens"), 4).alias(
                "vocab_coverage"
            ),
            F.round("kl", 6).alias("kl_divergence"),
        )
    )


# ---------------------------------------------------------------------------
# Hashed-feature linear quality classifier (operators/classify.py)
# ---------------------------------------------------------------------------

from autonomous_orchestrator_ai_spark.operators.classify import (  # noqa: E402
    N_BUCKETS,
    hashed_linear_score,
)
from autonomous_orchestrator_ai_spark.plans.dedup_queries import (  # noqa: E402
    NORM_SQL,
)


def _bucket_sql(tok: str) -> str:
    return f"(CAST(('0x' || substr(md5({tok}), 1, 8)) AS BIGINT) % {N_BUCKETS})"


def _weight_sql(bucket: str) -> str:
    return (
        f"((CAST(('0x' || substr(md5('w1#' || CAST({bucket} AS VARCHAR)), 1, 8)) "
        "AS BIGINT) % 2001 - 1000) / 1000.0)"
    )


#: the full classifier as one SQL scalar — mirrors
#: classify.hashed_linear_score(text, salt='w1') exactly.
_SCORE_SQL = (
    "1.0 / (1.0 + exp(-("
    f"list_sum(list_transform(string_split({NORM_SQL}, ' '), "
    f"t -> {_weight_sql(_bucket_sql('t'))})) "
    f"/ len(string_split({NORM_SQL}, ' ')))))"
)


@register(
    "quality_classifier_by_source",
    oracle=f"""
    WITH scored AS (SELECT source, {_SCORE_SQL} AS score FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(score), 6) AS avg_score,
           ROUND(AVG(CASE WHEN score >= 0.5 THEN 1.0 ELSE 0.0 END), 6) AS pass_rate
    FROM scored GROUP BY source ORDER BY source
    """,
)
def quality_classifier_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-gate profile per source: mean score and the fraction
    passing the 0.5 threshold. The classifier is the zero-shuffle
    expression form — the aggregate is the ONLY exchange in the plan."""
    docs = table(spark, sf_dir, "documents")
    scored = docs.select("source", hashed_linear_score("text").alias("score"))
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("score"), 6).alias("avg_score"),
            F.round(
                F.avg(F.when(F.col("score") >= 0.5, 1.0).otherwise(0.0)), 6
            ).alias("pass_rate"),
        )
        .orderBy("source")
    )


@register(
    "quality_classifier_topk",
    oracle=f"""
    WITH scored AS (SELECT doc_id, {_SCORE_SQL} AS score FROM documents)
    SELECT doc_id, ROUND(score, 6) AS score
    FROM scored ORDER BY ROUND(score, 6) DESC, doc_id LIMIT 15
    """,
)
def quality_classifier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highest-scoring documents (TakeOrderedAndProject over a map-only
    scoring stage; rounded score is the sort key so cross-engine last-ulp
    noise cannot reorder ties — doc_id breaks the rest)."""
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", F.round(hashed_linear_score("text"), 6).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(15)


from autonomous_orchestrator_ai_spark.plans.dedup_queries import (  # noqa: E402
    _CC_CTES,
)


@register(
    "quality_ranked_survivors",
    oracle=f"""
    WITH RECURSIVE {_CC_CTES},
    scored AS (SELECT doc_id, source, n_chars, ROUND({_SCORE_SQL}, 6) AS score
               FROM documents),
    labeled AS (SELECT s.*, COALESCE(c.component, s.doc_id) AS component
                FROM scored s LEFT JOIN comp c ON s.doc_id = c.node),
    ranked AS (SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY component ORDER BY score DESC, doc_id) AS rn
               FROM labeled)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_survivors,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           -- exact mean rounded half-up to 6 dp, in integer micro-units
           -- (DuckDB divides decimals as DOUBLE; scores are positive)
           CAST((2 * CAST(SUM(CAST(score AS DECIMAL(18,6))) * 1000000
                          AS BIGINT) + COUNT(*)) // (2 * COUNT(*))
                AS DOUBLE) / 1000000 AS avg_score
    FROM ranked WHERE rn = 1 GROUP BY source ORDER BY source
    """,
)
def quality_ranked_survivors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup dedup: within each connected component of
    the n-gram-Jaccard >= 0.2 graph keep the doc the hashed-linear
    classifier scores HIGHEST (ties -> smallest doc_id); edge-free docs
    survive untouched (operators.graph.quality_ranked_survivors). The
    per-source profile makes this directly comparable to
    near_dup_survivors, which keeps the arbitrary smallest id instead.
    ``avg_score`` sums the 6-dp scores exactly as DECIMAL and rounds the
    quotient once (registry.exact_money_sum's pattern): a double mean can
    land 1 ulp either side of a rounding midpoint depending on summation
    order."""
    from autonomous_orchestrator_ai_spark.operators.graph import (
        quality_ranked_survivors,
    )
    from autonomous_orchestrator_ai_spark.plans.dedup_queries import _ngram_edges

    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(hashed_linear_score("text"), 6).alias("score"),
    )
    survivors = quality_ranked_survivors(
        scored, _ngram_edges(spark, sf_dir), "score"
    )
    return (
        survivors.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum("n_chars").alias("total_chars"),
            F.round(
                F.sum(F.col("score").cast("decimal(18,6)"))
                / F.count(F.lit(1)),
                6,
            )
            .cast("double")
            .alias("avg_score"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Distributed classifier TRAINING (operators/classify.py train_logistic_gd)
# ---------------------------------------------------------------------------
#
# Full-batch logistic-regression gradient descent over hashed bag-of-words
# features, labels = the exact Gopher all-pass gate (a deterministic
# rule-based proxy — the CCNet/fastText bootstrap trick where a cheap exact
# filter supplies training labels for the learned one). Fixed round count +
# per-round 1e-9 weight quantization make every round SQL-expressible as a
# chained CTE, so the DuckDB oracle replays the ENTIRE training run
# hash-exactly (the BPE-trainer pattern applied to GD).

import functools  # noqa: E402
import operator as _op  # noqa: E402

from autonomous_orchestrator_ai_spark.functions.text import (  # noqa: E402
    gopher_rules,
)
from autonomous_orchestrator_ai_spark.operators.classify import (  # noqa: E402
    TRAIN_BUCKETS,
    hashed_features,
    score_features,
    train_logistic_gd,
)
from autonomous_orchestrator_ai_spark.plans.text_queries import (  # noqa: E402
    _ALPHA_FRAC,
    _DISTINCT_RATIO,
    _MWL,
    _PUNCT,
    _SW_HITS,
    _TOKEN_COUNT,
)

_GD_ROUNDS = 24
_GD_LR = 8.0

#: the Gopher all-pass gate as one SQL predicate — byte-identical pieces to
#: the oracle of gopher_quality_by_source (plans/text_queries.py), which
#: pins the Spark<->SQL rule mapping.
_GATE_SQL = (
    f"({_TOKEN_COUNT} BETWEEN 50 AND 100000"
    f" AND {_MWL} >= 3.0 AND {_MWL} <= 10.0"
    f" AND {_PUNCT} <= 0.1"
    f" AND {_ALPHA_FRAC} >= 0.8"
    f" AND {_SW_HITS} >= 2"
    f" AND {_DISTINCT_RATIO} >= 0.2)"
)


def _train_bucket_sql(tok: str) -> str:
    return (
        f"(CAST(('0x' || substr(md5({tok}), 1, 8)) AS BIGINT)"
        f" % {TRAIN_BUCKETS})"
    )


def _feat_ctes(prefix: str, src: str) -> str:
    """{prefix}_fl = (doc_id, bucket, x, y) over the ``src`` relation —
    the SQL mirror of hashed_features + the Gopher proxy labels."""
    return f"""
    {prefix}_toks AS (
      SELECT doc_id, t AS tok, len(ts) AS n_tok
      FROM (SELECT doc_id, string_split({NORM_SQL}, ' ') AS ts
            FROM {src}) s, unnest(s.ts) AS u(t)),
    {prefix}_feats AS (
      SELECT doc_id, {_train_bucket_sql('tok')} AS bucket,
             COUNT(*) * 1.0 / MIN(n_tok) AS x
      FROM {prefix}_toks GROUP BY doc_id, {_train_bucket_sql('tok')}
      UNION ALL SELECT doc_id, -1 AS bucket, 1.0 AS x FROM {src}
      UNION ALL SELECT doc_id, -2, CAST({_TOKEN_COUNT} AS DOUBLE) / 100.0
        FROM {src}
      UNION ALL SELECT doc_id, -3, {_MWL} / 10.0 FROM {src}
      UNION ALL SELECT doc_id, -4, {_PUNCT} FROM {src}
      UNION ALL SELECT doc_id, -5, CAST({_SW_HITS} AS DOUBLE) / 10.0
        FROM {src}
      UNION ALL SELECT doc_id, -6, {_DISTINCT_RATIO} FROM {src}
      UNION ALL SELECT doc_id, -7, {_ALPHA_FRAC} FROM {src}),
    {prefix}_labels AS MATERIALIZED (
      SELECT doc_id, CASE WHEN {_GATE_SQL} THEN 1.0 ELSE 0.0 END AS y
      FROM {src}),
    {prefix}_fl AS MATERIALIZED (
      SELECT f.doc_id, f.bucket, f.x, l.y
      FROM {prefix}_feats f JOIN {prefix}_labels l USING (doc_id))"""


def _gd_ctes(src: str = "documents") -> str:
    """CTE chain replaying hashed_features + train_logistic_gd verbatim
    (``_GD_ROUNDS`` rounds at ``_GD_LR``) over the ``src`` relation:
    gd_w{_GD_ROUNDS} is the trained (bucket, weight) table."""
    head = f"""{_feat_ctes('gd', src)},
    gd_n AS MATERIALIZED (SELECT COUNT(*) * 1.0 AS n FROM {src}),
    gd_w0 AS MATERIALIZED (SELECT DISTINCT bucket, 0.0 AS weight FROM gd_feats)"""
    parts = [head]
    for t in range(1, _GD_ROUNDS + 1):
        parts.append(f""",
    gd_rs{t} AS MATERIALIZED (
      SELECT doc_id, 1.0 / (1.0 + exp(-SUM(x * weight))) - MIN(y) AS r
      FROM gd_fl JOIN gd_w{t - 1} USING (bucket) GROUP BY doc_id),
    gd_g{t} AS MATERIALIZED (
      SELECT bucket, SUM(x * r) / (SELECT n FROM gd_n) AS g
      FROM gd_fl JOIN gd_rs{t} USING (doc_id) GROUP BY bucket),
    gd_w{t} AS MATERIALIZED (
      SELECT w.bucket, ROUND(w.weight - {_GD_LR} * g.g, 9) AS weight
      FROM gd_w{t - 1} w JOIN gd_g{t} g USING (bucket))""")
    return "".join(parts)


def _gopher_labels(docs: DataFrame) -> DataFrame:
    gate = functools.reduce(_op.and_, gopher_rules("text").values())
    return docs.select(
        "doc_id", F.when(gate, 1.0).otherwise(0.0).alias("y")
    )


@register(
    "quality_classifier_trained_weights",
    oracle=f"""
    WITH {_gd_ctes()}
    SELECT bucket, ROUND(weight, 6) AS weight
    FROM (SELECT * FROM gd_w{_GD_ROUNDS}
          ORDER BY abs(weight) DESC, bucket LIMIT 25) t
    """,
)
def quality_classifier_trained_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DISTRIBUTED TRAINING of the hashed-feature quality classifier:
    24 rounds of full-batch logistic-regression GD (lr=8) over 4096-bucket
    hashed bag-of-words + 6 structural features (length, mean word length,
    punctuation, stopwords, repetition, alpha fraction — the CCNet signal
    set), labels = the exact Gopher all-pass gate. Output: the 25 largest
    trained weights (|w| desc, bucket tiebreak).

    The oracle replays ALL 24 rounds as chained CTEs — training itself is
    hash-checked, not just the final scoring. Per-round weight quantization
    to 1e-9 stops cross-engine float noise compounding (see
    operators/classify.py WEIGHT_DECIMALS). Scale: per round, one shuffle
    keyed by doc id and one keyed by bucket; the weight table (<= 4103
    rows, a model constant) is always the broadcast side."""
    docs = ensure_min_parallelism(table(spark, sf_dir, "documents"))
    w = train_logistic_gd(
        hashed_features(docs), _gopher_labels(docs),
        rounds=_GD_ROUNDS, lr=_GD_LR,
    )
    return (
        w.orderBy(F.abs(F.col("weight")).desc(), F.col("bucket").asc())
        .limit(25)
        .select("bucket", F.round("weight", 6).alias("weight"))
    )


@register(
    "quality_classifier_trained_eval",
    oracle=f"""
    WITH {_gd_ctes()},
    gd_sc AS MATERIALIZED (
      SELECT doc_id, MIN(y) AS y,
             1.0 / (1.0 + exp(-SUM(x * weight))) AS p
      FROM gd_fl JOIN gd_w{_GD_ROUNDS} USING (bucket) GROUP BY doc_id)
    SELECT
      CAST(SUM(CASE WHEN p >= 0.5 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      CAST(SUM(CASE WHEN p >= 0.5 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      CAST(SUM(CASE WHEN p < 0.5 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      CAST(SUM(CASE WHEN p < 0.5 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
      ROUND(AVG(p), 6) AS avg_score,
      ROUND(-AVG(y * ln(p) + (1.0 - y) * ln(1.0 - p)), 6) AS log_loss
    FROM gd_sc
    """,
)
def quality_classifier_trained_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Training-set evaluation of the GD-trained classifier: confusion
    matrix against the Gopher proxy labels at threshold 0.5, mean score,
    and log-loss. Demonstrates the learned model actually separates the
    gate (vs the frozen-random scorer, whose confusion matrix is a coin
    flip) while every number stays oracle-replayable."""
    docs = ensure_min_parallelism(table(spark, sf_dir, "documents"))
    feats = hashed_features(docs)
    labels = _gopher_labels(docs)
    w = train_logistic_gd(feats, labels, rounds=_GD_ROUNDS, lr=_GD_LR)
    scored = score_features(feats, w).join(labels, "doc_id")
    p, y = F.col("score"), F.col("y")
    hi, lo = p >= 0.5, p < 0.5
    return scored.agg(
        F.sum((hi & (y == 1.0)).cast("long")).alias("tp"),
        F.sum((hi & (y == 0.0)).cast("long")).alias("fp"),
        F.sum((lo & (y == 1.0)).cast("long")).alias("fn"),
        F.sum((lo & (y == 0.0)).cast("long")).alias("tn"),
        F.round(F.avg(p), 6).alias("avg_score"),
        F.round(
            -F.avg(y * F.log(p) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - p)),
            6,
        ).alias("log_loss"),
    )


from autonomous_orchestrator_ai_spark.operators.curation import (  # noqa: E402
    hex_threshold,
    sample_predicate,
)

_SPLIT_SALT = "clf-split"
_TRAIN_FRAC = 0.8
_SPLIT_THR = hex_threshold(_TRAIN_FRAC)

#: DuckDB mirror of sample_predicate(_TRAIN_FRAC, "doc_id", _SPLIT_SALT)
_TRAIN_PRED_SQL = (
    f"substr(md5('{_SPLIT_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 4)"
    f" < '{_SPLIT_THR}'"
)


@register(
    "quality_classifier_holdout_eval",
    oracle=f"""
    WITH gd_src AS MATERIALIZED (
      SELECT * FROM documents WHERE {_TRAIN_PRED_SQL}),
    {_gd_ctes(src="gd_src").lstrip()},
    {_feat_ctes('ev', 'documents').lstrip()},
    ev_sc AS (
      SELECT doc_id, MIN(y) AS y,
             1.0 / (1.0 + exp(-SUM(x * weight))) AS p
      FROM ev_fl JOIN gd_w{_GD_ROUNDS} USING (bucket) GROUP BY doc_id)
    SELECT CASE WHEN {_TRAIN_PRED_SQL} THEN 'train' ELSE 'heldout' END
             AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN p >= 0.5 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN p >= 0.5 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN p < 0.5 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN p < 0.5 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           ROUND(-AVG(y * ln(p) + (1.0 - y) * ln(1.0 - p)), 6) AS log_loss
    FROM ev_sc GROUP BY 1 ORDER BY split
    """,
)
def quality_classifier_holdout_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HELD-OUT evaluation of the GD-trained classifier — the number that
    actually certifies a quality gate: train on the deterministic 80%
    md5-draw split, score the WHOLE corpus with the trained weights,
    report confusion + log-loss per split. Generalization (heldout ~
    train metrics) falls out of the report instead of being asserted.
    Unseen held-out buckets contribute weight 0 (the inner join drops
    them — fastText's zero-initialized rows), and every doc survives via
    its structural sentinel buckets, which the training split always
    populates. The oracle replays split draw + 24 GD rounds + corpus
    scoring end to end."""
    docs = ensure_min_parallelism(table(spark, sf_dir, "documents"))
    is_train = sample_predicate(_TRAIN_FRAC, "doc_id", _SPLIT_SALT)
    train = docs.where(is_train)
    w = train_logistic_gd(
        hashed_features(train), _gopher_labels(train),
        rounds=_GD_ROUNDS, lr=_GD_LR,
    )
    scored = (
        score_features(hashed_features(docs), w)
        .join(_gopher_labels(docs), "doc_id")
        .join(
            docs.select(
                "doc_id",
                F.when(is_train, "train").otherwise("heldout").alias("split"),
            ),
            "doc_id",
        )
    )
    p, y = F.col("score"), F.col("y")
    hi, lo = p >= 0.5, p < 0.5
    return (
        scored.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((hi & (y == 1.0)).cast("long")).alias("tp"),
            F.sum((hi & (y == 0.0)).cast("long")).alias("fp"),
            F.sum((lo & (y == 1.0)).cast("long")).alias("fn"),
            F.sum((lo & (y == 0.0)).cast("long")).alias("tn"),
            F.round(
                -F.avg(
                    y * F.log(p) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - p)
                ),
                6,
            ).alias("log_loss"),
        )
        .orderBy("split")
    )
