"""Full-text retrieval scoring: BM25 over the tokenized corpus.

The missing piece between the TF-IDF salience report (operators/scoring.py)
and an actual search/RAG data path: given a bag-of-words query, rank
documents by Okapi BM25. A training-data pipeline uses this to pull
topical slices out of a 100 TB corpus ("give me the docs about X"), to
mine retrieval training pairs, and as the sparse half of hybrid
(BM25 + dense) retrieval next to operators/similarity.py.

Spark-first shape (reference has no retrieval surface; extends SURVEY.md
§2.10's scoring family):

- the query-term list is a tiny in-plan literal — it reaches the token
  stream as a broadcast hash join, so the corpus-scaled work is ONE scan
  of the token stream with the join filtering it down to query-term hits
  before any shuffle;
- document length and the corpus token total are one map-side-combined
  aggregate each; `avgdl` and per-term `df` are scalar/tiny frames
  broadcast back in;
- the final score is a per-(doc, term) expression plus one groupBy(doc)
  — no UDFs, everything whole-stage-codegen.

At cluster scale the tokens→(doc, term, tf) stage is the materialized
inverted index (operators/dedup.py builds the same shape for n-gram
Jaccard); point ``bm25_scores`` at a pre-built index table to skip
re-tokenization per query batch.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions.literals import local_relation
from autonomous_orchestrator_ai_spark.functions.text import lower_tokens
from autonomous_orchestrator_ai_spark.operators.scoring import (
    explode_tokens,
)

__all__ = ["bm25_scores", "rrf_fuse"]

#: Okapi BM25 term-saturation and length-normalization constants
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(
    docs: DataFrame,
    query_terms: Sequence[str] | DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 score per document for a bag-of-words query.

    Returns ``(id_col, n_hit_terms, score)`` for every document matching
    at least one query term. ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``
    (the Lucene form — strictly positive, so a term in >half the corpus
    can't subtract); the tf saturation uses the standard
    ``tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`` with ``BM25_K1`` and
    ``BM25_B``.

    ``query_terms`` is either a literal term list or a small DataFrame
    with a ``token`` column (e.g. the distinct tokens of a query-by-
    example document) — either way it's broadcast, never shuffled.

    df is counted over the FULL corpus (that's what makes it BM25 and not
    a per-slice heuristic); dl/avgdl likewise. All three are tiny
    aggregates broadcast into the scoring join.
    """
    if isinstance(query_terms, DataFrame):
        terms = query_terms.select(
            F.lower(F.col("token")).alias("token")
        ).distinct()
    else:
        if not query_terms:
            raise ValueError("bm25_scores: query_terms must be non-empty")
        spark = docs.sparkSession
        terms = local_relation(
            spark, [(t.lower(),) for t in dict.fromkeys(query_terms)], "token string"
        )

    tokens = explode_tokens(docs.select(id_col, text_col), id_col, text_col)
    # doc length: a MAP-SIDE array fold over the docs scan, never an
    # explode + corpus-wide groupBy — size(filter(tokens)) counts exactly
    # the rows explode_tokens would emit per doc (null text -> size(null)
    # = -1, all-whitespace -> 0; both excluded by dl > 0, matching the
    # explode dropping them). At corpus scale the old shape shuffled the
    # ENTIRE token stream just to count it (guide §2.4: remove shuffles
    # outright); this shape shuffles nothing and scans one column.
    dl = docs.select(
        F.col(id_col),
        F.size(
            F.filter(lower_tokens(text_col), lambda t: t != "")
        ).alias("dl"),
    ).where(F.col("dl") > 0)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    # restrict the token stream to query-term hits BEFORE any shuffle:
    # broadcast the term list into the scan
    hits = tokens.join(F.broadcast(terms), "token")
    tf = hits.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    # df = COUNT(DISTINCT doc) over hits = COUNT(*) over tf (tf is one row
    # per (doc, term) by construction). Deriving it from tf makes the two
    # subtrees byte-identical up to the (id, token) exchange, so the plan
    # re-reads that exchange (ReusedExchange) instead of re-scanning and
    # re-exploding the corpus for a second aggregation.
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))

    n, dfc, tfc, dlc = F.col("n_docs"), F.col("df"), F.col("tf"), F.col("dl")
    idf = F.log(F.lit(1.0) + (n - dfc + 0.5) / (dfc + 0.5))
    denom = tfc + BM25_K1 * (1.0 - BM25_B + BM25_B * dlc / F.col("avgdl"))
    term_score = idf * (tfc * (BM25_K1 + 1.0)) / denom

    return (
        tf.join(F.broadcast(df_), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn("term_score", term_score)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hit_terms"),
            F.sum("term_score").alias("score"),
        )
    )


def rrf_fuse(
    rankings: Sequence[tuple[str, DataFrame]],
    *,
    id_col: str = "doc_id",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. SIGIR'09) of several
    rankings: ``rrf = Σ_legs 1/(k + rank_leg)``, the standard way to
    combine a sparse (BM25) and a dense (embedding-cosine) retriever
    without score calibration — ranks fuse, scores don't.

    ``rankings`` is ``[(leg_name, df)]`` where each df has ``id_col`` and
    a bigint ``rank`` (1-based; produce it with a rounded-score ordering
    + unique tie-break so it's deterministic). Items missing from a leg
    contribute nothing for that leg (full outer join semantics). Returns
    ``(id_col, rank_<leg> ... , rrf_score)``.

    Plan shape: each leg is already a per-item frame; the fusion is a
    sequence of full-outer equi-joins on the item id — at corpus scale
    all legs are id-partitioned aggregates, so the joins co-locate.
    """
    if len(rankings) < 2:
        raise ValueError("rrf_fuse: need at least two rankings")
    fused: DataFrame | None = None
    for name, df in rankings:
        leg = df.select(id_col, F.col("rank").alias(f"rank_{name}"))
        fused = leg if fused is None else fused.join(leg, id_col, "full_outer")
    score = None
    for name, _ in rankings:
        term = F.when(
            F.col(f"rank_{name}").isNotNull(),
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"rank_{name}")),
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    return fused.withColumn("rrf_score", score)
