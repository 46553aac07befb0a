"""Bigram language-model perplexity scoring.

CCNet (Wenzek et al. 2020, arXiv 1911.00359 — public) filters web text by
*LM perplexity*, not unigram rarity: a document full of individually-common
tokens in an improbable ORDER ("the the of table and") is low quality, and
only a context-conditional model sees that. operators/scoring.py's
``unigram_logprob`` is the order-blind proxy; this module adds the real
sequence-sensitive signal as a corpus-trained add-one-smoothed bigram LM:

    p(w2 | w1) = (c(w1 w2) + 1) / (c(w1 ·) + V)

with ``V`` the corpus unigram vocabulary size, ``c(w1 w2)`` the corpus
bigram count and ``c(w1 ·)`` the count of bigram occurrences whose context
is ``w1``. Per-document perplexity is ``exp(-mean ln p)`` over the
document's bigrams; documents with fewer than two tokens have no bigram
and drop out (they cannot be scored by a bigram model).

Everything is built from ``split``/``transform``/``explode`` + joins —
zero Python UDFs, the whole pipeline stays in WholeStageCodegen, and every
step replays exactly in the DuckDB oracles (plans/lm_queries.py).

Scale shape (100 TB):
- the bigram explode is linear in corpus tokens; the model is ONE
  partial-aggregating groupBy on (w1, w2) — map-side combine collapses
  repeats before the shuffle;
- scoring joins the document bigrams back to the model on (w1, w2) and the
  context totals on w1 as plain shuffle joins: both model tables scale
  with the *vocabulary squared at worst*, far smaller than the corpus but
  too big to hint broadcast at web scale — AQE demotes to broadcast when
  they actually fit (the same policy as operators/scoring.py);
- the final reduce is a per-document aggregation keyed on the id.
No collect, no cartesian, no step whose state exceeds a vocabulary
aggregate; a 100x corpus is just bigger shuffles on fixed-width keys.

Reference parity: the reference repo (AbdulSohail018/
Autonomous-Orchestrator-Ai) has no corpus-relative scoring at all — this
is part of the beyond-reference LLM-training-data surface (SURVEY.md §2
"text analysis" family), alongside scoring.py's unigram/TF-IDF/DSIR.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions.text import _once, lower_tokens

__all__ = ["bigram_occurrences", "bigram_model", "bigram_perplexity"]


def bigram_occurrences(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per adjacent token pair: (id, w1, w2).

    Pairs are built inside the token array (``transform`` over a
    ``sequence`` of 1-based positions) and exploded once — no self-join,
    no window; a document of n tokens emits exactly n-1 rows.
    """
    toks = lower_tokens(text_col)

    # _once-hoisted: captured raw, the lower+trim+regex split re-runs per
    # bigram (the O(n^2)-per-doc HOF trap — see functions.text._once)
    def pairs_of(ts: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.size(ts) - 1),
            lambda i: F.struct(
                F.element_at(ts, i).alias("w1"),
                F.element_at(ts, i + 1).alias("w2"),
            ),
        )

    return (
        docs.where((F.size(toks) >= 2) & (F.element_at(toks, 1) != ""))
        .select(id_col, F.explode(_once(toks, pairs_of)).alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )


def bigram_model(occ: DataFrame, id_col: str = "doc_id") -> tuple[DataFrame, DataFrame, DataFrame]:
    """Corpus LM tables from bigram occurrences: (bigram counts,
    context totals, vocabulary size).

    Returns ``(c2, c1, v)`` where c2 = (w1, w2, c2), c1 = (w1, c1) and v is
    a 1-row (v_size,) frame counting distinct tokens over BOTH bigram
    positions (== the unigram vocabulary: every token of a >=2-token doc
    appears in some bigram; 1-token docs cannot be scored anyway so their
    vocabulary contribution is irrelevant to any scored probability).
    c1 is derived from c2 — one aggregation pass over the (already
    map-combined) bigram counts, not a second corpus scan.
    """
    c2 = occ.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = (
        c2.select(F.col("w1").alias("t"))
        .union(c2.select(F.col("w2").alias("t")))
        .agg(F.countDistinct("t").alias("v_size"))
    )
    return c2, c1, v


def bigram_perplexity(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document bigram perplexity under the corpus add-one model:
    (id, n_bigrams, mean_nll, perplexity).

    ``mean_nll`` is the mean negative natural log of p(w2|w1) over the
    document's bigrams; ``perplexity = exp(mean_nll)``. Lower = more
    predictable = closer to the corpus's dominant register (CCNet keeps
    the low/middle of this distribution and drops the high tail).
    """
    occ = bigram_occurrences(docs, id_col, text_col)
    c2, c1, v = bigram_model(occ, id_col)
    # Join the MODEL tables together first (r10, guide §2.3/§2.4): c2 ⋈ c1
    # is vocabulary-scaled, so attaching c1 and V to the bigram-count table
    # and THEN joining occurrences once on (w1, w2) removes the former
    # corpus-scaled re-shuffle of occ ⋈ c2 on w1 — the only shuffles that
    # still carry occurrence rows are the (w1, w2) join input and the
    # final per-document aggregation. nll per (w1, w2) is computed in the
    # model table: identical expression over identical per-pair values
    # ((c2+1)/(c1+V) depends only on the pair), so every occurrence row
    # receives the bit-identical nll it previously computed inline.
    model = (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            (
                -F.log(
                    (F.col("c2") + 1.0) / (F.col("c1") + F.col("v_size"))
                )
            ).alias("nll"),
        )
    )
    p = occ.join(model, ["w1", "w2"]).select(id_col, "nll")
    return p.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("nll").alias("mean_nll"),
        F.exp(F.avg("nll")).alias("perplexity"),
    )
