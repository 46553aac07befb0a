"""Corpus-relative document scoring operators.

The reference's quality surface is per-row expressions (SURVEY.md §2.10);
these operators add the *corpus-relative* scores a training-data pipeline
needs — TF-IDF salience, unigram-LM log-probability (the CCNet-style
perplexity proxy), rank-trimmed robust statistics, and random-projection
embedding sketches. All are pure DataFrame compositions: tokenize with
built-in expressions, aggregate corpus statistics once, join them back.

Scale notes (100 TB):
- The corpus-statistics side (vocabulary counts, document frequency) is
  orders of magnitude smaller than the corpus itself but can still exceed
  broadcast limits at web scale — these operators therefore key the join on
  ``token`` as a plain shuffle join and let AQE pick broadcast when the
  vocabulary actually fits. The *filtered per-document side* (when the
  caller scores a slice) is the side hinted broadcast.
- No Python UDFs anywhere: tokenization is ``split``/``explode``,
  the math is JVM-side, so the whole pipeline stays in WholeStageCodegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions.text import lower_tokens


def explode_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) pairs; empty documents contribute no rows."""
    return (
        df.select(id_col, F.explode(lower_tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
    )


def tfidf_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    scored_docs: DataFrame | None = None,
) -> DataFrame:
    """Per-(doc, token) TF-IDF over the whole corpus.

    ``tf`` is the raw in-document count; ``idf = ln((N+1)/(df+1)) + 1``
    (smoothed, sklearn-style) where ``df`` counts distinct documents
    containing the token and ``N`` is the corpus size. Document frequency is
    ALWAYS computed over the full ``docs`` corpus; pass ``scored_docs`` to
    score only a slice without biasing the statistics — the slice side is
    broadcast into the vocabulary join.
    """
    all_tokens = explode_tokens(docs, id_col, text_col)
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    doc_freq = all_tokens.groupBy("token").agg(
        F.countDistinct(id_col).alias("df")
    )
    target = docs if scored_docs is None else scored_docs
    tf = (
        explode_tokens(target, id_col, text_col)
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if scored_docs is not None:
        tf = F.broadcast(tf)
    return (
        tf.join(doc_freq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "token",
            "tf",
            "df",
            (
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                    + F.lit(1.0)
                )
            ).alias("tfidf"),
        )
    )


def top_terms_per_doc(tfidf: DataFrame, id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Top-k salient terms per document, deterministic tie-break on token."""
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        tfidf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def unigram_logprob(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean natural-log probability under the corpus unigram LM.

    The CCNet-style quality signal: documents whose tokens are globally rare
    score low (gibberish, boilerplate IDs), middle-of-the-distribution text
    scores high. ``logprob = avg_t ln(count(t)/T)`` with T = total corpus
    tokens. One shuffle for the vocabulary counts, one token-keyed join,
    one per-doc aggregation.
    """
    tokens = explode_tokens(docs, id_col, text_col)
    vocab = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    totals = vocab.select(F.sum("cnt").alias("total_tokens"))
    return (
        tokens.join(vocab, "token")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log(F.col("cnt") / F.col("total_tokens"))).alias(
                "mean_logprob"
            ),
        )
    )


def top_vocabulary(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 512,
) -> DataFrame:
    """Frozen top-``vocab_size`` vocabulary by global occurrence count
    (tie-break token asc) — the deterministic stand-in for a trained
    tokenizer vocab when planning coverage.

    Scale: the top-k is ``orderBy().limit()`` which compiles to
    TakeOrderedAndProject — per-partition heaps of size V merged once, never
    a global sort of the (possibly billions-of-types) vocabulary. The result
    is BOUNDED at V rows, so it is always the broadcast side downstream.
    """
    counts = (
        explode_tokens(docs, id_col, text_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts.orderBy(F.desc("cnt"), F.asc("token")).limit(vocab_size)


def vocab_coverage(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 512,
) -> DataFrame:
    """Out-of-vocabulary rates per group against the frozen top-V vocab:
    the tokenizer-planning report (how much of each source a fixed vocab
    fails to cover, by occurrence AND by distinct type).

    Token occurrences left-join the broadcast vocab (bounded V rows) for an
    in-vocab flag; one grouped aggregation computes occurrence totals and
    approximate-free distinct-type counts. No shuffle carries raw text —
    only (group, token) pairs.
    """
    vocab = F.broadcast(top_vocabulary(docs, id_col, text_col, vocab_size))
    tokens = explode_tokens(
        docs.select(group_col, id_col, text_col), id_col=group_col,
        text_col=text_col,
    )
    flagged = tokens.join(
        vocab.select("token", F.lit(1).alias("__in_vocab")), "token", "left"
    )
    oov = F.col("__in_vocab").isNull()
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.sum(F.when(oov, 1).otherwise(0)).alias("oov_tokens"),
            F.countDistinct("token").alias("distinct_types"),
            F.countDistinct(F.when(oov, F.col("token"))).alias(
                "oov_types"
            ),
        )
        .select(
            group_col,
            "total_tokens",
            "oov_tokens",
            F.round(F.col("oov_tokens") / F.col("total_tokens"), 6).alias(
                "oov_token_rate"
            ),
            "distinct_types",
            "oov_types",
            F.round(F.col("oov_types") / F.col("distinct_types"), 6).alias(
                "oov_type_rate"
            ),
        )
    )


def trimmed_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    tiebreak_col: str,
    trim_frac: float = 0.05,
) -> DataFrame:
    """Rank-trimmed mean/std per group: drop the bottom and top
    ``floor(trim_frac * n)`` rows by value (deterministic tie-break), then
    aggregate the middle. Rank cuts are exact order statistics — no
    interpolated-percentile threshold to disagree about across engines, and
    the trim is robust to outliers the way a winsorized mean is.

    Plan: one shuffle on ``group_col`` serves both window passes and the
    final aggregation (sort within partitions, no extra exchange).
    """
    w = Window.partitionBy(group_col).orderBy(
        F.asc(value_col), F.asc(tiebreak_col)
    )
    n = Window.partitionBy(group_col)
    ranked = df.select(
        group_col,
        value_col,
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(n).alias("n"),
    )
    k = F.floor(F.col("n") * F.lit(trim_frac))
    kept = ranked.filter((F.col("rn") > k) & (F.col("rn") <= F.col("n") - k))
    return kept.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.avg(value_col).alias("trimmed_mean"),
        F.stddev_pop(value_col).alias("trimmed_std"),
        F.min(value_col).alias("lo_cut"),
        F.max(value_col).alias("hi_cut"),
    )


def random_projection(
    emb: DataFrame,
    dim_out: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "rp",
) -> DataFrame:
    """Johnson–Lindenstrauss sign-projection sketch: ``out[k] = sum_j
    v[j] * sign(j,k)`` with a deterministic ±1 matrix derived from
    ``md5(seed_j_k)`` — reproducible on any engine, no materialized model.

    Returns long form (id, k, component). The projection matrix
    (``dim_in × dim_out`` rows) is generated with ``sequence``/``explode``
    and broadcast; the input side only posexplodes, so the operator is one
    broadcast-hash-join plus one aggregation regardless of corpus size.
    """
    comps = emb.select(
        id_col, F.posexplode(vec_col).alias("j", "v")
    )
    # matrix: rows j in [0, dim_in), k in [0, dim_out); dim_in read from data
    dim_in_df = emb.select(F.max(F.size(vec_col)).alias("dim_in"))
    matrix = (
        dim_in_df.select(
            F.explode(F.sequence(F.lit(0), F.col("dim_in") - 1)).alias("j")
        )
        .crossJoin(
            emb.sparkSession.range(dim_out).select(
                F.col("id").cast("int").alias("k")
            )
        )
        .select(
            "j",
            "k",
            F.when(
                F.substring(
                    F.md5(F.concat_ws("_", F.lit(seed), "j", "k")), 1, 1
                )
                < "8",
                F.lit(1.0),
            )
            .otherwise(F.lit(-1.0))
            .alias("sign"),
        )
    )
    return (
        comps.join(F.broadcast(matrix), "j")
        .groupBy(id_col, "k")
        .agg(F.sum(F.col("v") * F.col("sign")).alias("component"))
    )


def hashed_bucket(col: Column, n_buckets: int) -> Column:
    """Portable md5-based feature bucket in [0, n_buckets): identical in
    Spark (``conv(substring(md5(x),1,8),16,10)``) and DuckDB
    (``('0x'||substr(md5(x),1,8))::BIGINT``), so hashed-feature operators
    stay oracle-checkable. 32 hex-bit prefix -> always positive."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        % F.lit(n_buckets)
    )


#: hashed-unigram buckets of ``dsir_importance``'s class LMs
DSIR_BUCKETS = 64


def dsir_importance(
    docs: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, arXiv 2302.03169 —
    public): fit hashed-unigram bag-of-words LMs over a *target* slice and
    the *raw* rest, then score every document by the mean log-likelihood
    ratio of its tokens. Sampling ``exp(weight)``-proportionally (or
    thresholding) selects raw data that "looks like" the target domain —
    the data-selection step before mixing.

    Returns (id_col, is_target, n_tokens, weight); empty documents drop out
    (they have no tokens to score).

    Scale shape (100 TB):
    - one explode -> partial-agg ``groupBy(id, bucket)`` pass builds per-doc
      histograms (combine happens map-side; the shuffle carries at most
      ``DSIR_BUCKETS`` rows per document, not tokens);
    - the class LMs are a ``DSIR_BUCKETS``-row aggregate of those histograms —
      tiny — and the smoothed log-ratio table is broadcast back;
    - the final per-doc reduce reuses the (id, bucket) partitioning. No
      driver-side state beyond the plan.
    - Laplace smoothing (+1 per bucket) keeps every ratio finite even when
      a bucket is empty on one side.
    """
    base = docs.select(
        F.col(id_col), is_target.alias("is_target"), F.col(text_col)
    )
    toks = base.select(
        id_col,
        "is_target",
        F.explode(lower_tokens(text_col)).alias("token"),
    ).filter(F.col("token") != "")
    hist = (
        toks.withColumn("bucket", hashed_bucket(F.col("token"), DSIR_BUCKETS))
        .groupBy(id_col, "is_target", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cls = hist.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(0)).alias(
            "t_cnt"
        ),
        F.sum(F.when(~F.col("is_target"), F.col("cnt")).otherwise(0)).alias(
            "r_cnt"
        ),
    )
    totals = cls.agg(
        F.sum("t_cnt").alias("t_tot"), F.sum("r_cnt").alias("r_tot")
    )
    lam = cls.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.log(
            ((F.col("t_cnt") + 1.0) / (F.col("t_tot") + float(DSIR_BUCKETS)))
            / ((F.col("r_cnt") + 1.0) / (F.col("r_tot") + float(DSIR_BUCKETS)))
        ).alias("lam"),
    )
    return (
        hist.join(F.broadcast(lam), "bucket")
        .groupBy(id_col, "is_target")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            (F.sum(F.col("cnt") * F.col("lam")) / F.sum("cnt")).alias(
                "weight"
            ),
        )
    )
