"""Duplicate-SPAN dedup queries (operators/spandedup.py) with exact
DuckDB-oracle replicas of every step: gram explode, cross-doc duplicate
detection, island merge into maximal spans, and keeper-preserving removal.

K = 8 word-grams: at this corpus's doc lengths (10-99 tokens) 8 is long
enough that duplicated grams are planted passages, not vocabulary
coincidences (measured at sf0.01: ~1000 cross-doc duplicated 8-grams vs
~6800 for k=3), and short enough to catch the generator's copied spans —
the same proportionality argument Lee et al. use for 50-token spans on
web documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions.text import _once, normalized_text
from autonomous_orchestrator_ai_spark.operators.spandedup import (
    duplicate_span_doc_stats,
    remove_duplicate_spans,
)
from autonomous_orchestrator_ai_spark.plans.dedup_queries import NORM_SQL
from autonomous_orchestrator_ai_spark.plans.registry import register, table

K = 8

#: shared oracle prelude: eligible docs (>= K tokens) and every k-gram
#: occurrence with its 0-based start position (mirrors
#: spandedup.kgram_occurrences; grouping on md5 hex == Spark's 16-byte
#: binary grouping, the binary form is purely a shuffle-width choice).
_PRELUDE = f"""
    WITH elig AS (
      SELECT doc_id, source, string_split({NORM_SQL}, ' ') AS t,
             len(string_split({NORM_SQL}, ' ')) AS n
      FROM documents
      WHERE len(string_split({NORM_SQL}, ' ')) >= {K}),
    starts AS (
      SELECT doc_id, unnest(range(1, n - {K} + 2)) AS i, t FROM elig),
    occ AS (
      SELECT doc_id, i - 1 AS pos,
             md5(array_to_string(t[i:i+{K - 1}], ' ')) AS gh
      FROM starts)
""".strip()

#: island merge of duplicated-gram start positions into maximal spans
#: (the running-max window form of spandedup._island_bounds' neighbor
#: test — the same spans on the same 0-based basis).
_SPANS_SQL = f"""
    dup AS (SELECT gh FROM occ GROUP BY gh
            HAVING COUNT(DISTINCT doc_id) >= 2),
    marked AS (SELECT occ.doc_id, occ.pos FROM occ JOIN dup USING (gh)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN MAX(pos + {K}) OVER w IS NULL
                    OR pos > MAX(pos + {K}) OVER w THEN 1 ELSE 0 END AS ni
      FROM marked
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    numbered AS (
      SELECT doc_id, pos,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM isl),
    spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + {K} AS e
      FROM numbered GROUP BY doc_id, island)
""".strip()


@register(
    "duplicate_span_stats",
    oracle=f"""
    {_PRELUDE},
    {_SPANS_SQL},
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s) AS dup_tokens
      FROM spans GROUP BY doc_id)
    SELECT e.source,
           CAST(COUNT(*) AS BIGINT) AS docs_scanned,
           CAST(COUNT(p.doc_id) AS BIGINT) AS docs_affected,
           CAST(COALESCE(SUM(p.n_spans), 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(SUM(p.dup_tokens), 0) AS BIGINT) AS dup_tokens,
           CAST(SUM(e.n) AS BIGINT) AS total_tokens,
           ROUND(CAST(COALESCE(SUM(p.dup_tokens), 0) AS DOUBLE) / SUM(e.n), 6)
             AS dup_token_rate
    FROM elig e LEFT JOIN per_doc p USING (doc_id)
    GROUP BY e.source ORDER BY e.source
    """,
)
def duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-passage profile: how much of each source's
    token mass sits inside a cross-doc duplicated span (the Lee et al.
    'what fraction of the corpus is memorizable boilerplate' number)."""
    docs = table(spark, sf_dir, "documents")
    n = F.size(F.split(normalized_text("text"), " "))
    elig = docs.where(n >= K).select("doc_id", "source", n.alias("n"))
    per_doc = duplicate_span_doc_stats(docs, k=K)
    return (
        elig.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_scanned"),
            F.count("n_spans").alias("docs_affected"),
            F.coalesce(F.sum("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce(F.sum("dup_tokens"), F.lit(0))
            .cast("bigint")
            .alias("dup_tokens"),
            F.sum("n").cast("bigint").alias("total_tokens"),
            F.round(
                F.coalesce(F.sum("dup_tokens"), F.lit(0))
                / F.sum("n").cast("double"),
                6,
            ).alias("dup_token_rate"),
        )
        .orderBy("source")
    )


@register(
    "duplicate_span_removal_stats",
    oracle=f"""
    {_PRELUDE},
    dupk AS (
      SELECT gh, MIN(doc_id) AS keeper FROM occ GROUP BY gh
      HAVING COUNT(DISTINCT doc_id) >= 2),
    removable AS (
      SELECT occ.doc_id, occ.pos FROM occ JOIN dupk USING (gh)
      WHERE occ.doc_id <> dupk.keeper),
    cov AS (
      SELECT DISTINCT doc_id, unnest(range(pos, pos + {K})) AS p
      FROM removable),
    rem AS (SELECT doc_id, COUNT(*) AS removed FROM cov GROUP BY doc_id),
    tokpos AS (
      SELECT e.doc_id, i - 1 AS pos, t[i] AS tok
      FROM (SELECT doc_id, unnest(range(1, n + 1)) AS i, t FROM elig) e(doc_id, i, t)),
    kept AS (
      SELECT tp.doc_id, COUNT(*) AS tokens_after,
             string_agg(tp.tok, ' ' ORDER BY tp.pos) AS clean_text
      FROM tokpos tp
      JOIN rem USING (doc_id)
      LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.p = tp.pos
      WHERE cov.p IS NULL
      GROUP BY tp.doc_id)
    SELECT r.doc_id,
           CAST(COALESCE(k.tokens_after, 0) + r.removed AS BIGINT) AS tokens_before,
           CAST(COALESCE(k.tokens_after, 0) AS BIGINT) AS tokens_after,
           md5(COALESCE(k.clean_text, '')) AS clean_md5
    FROM rem r LEFT JOIN kept k USING (doc_id)
    ORDER BY r.doc_id
    """,
)
def duplicate_span_removal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper-preserving span removal, verified to the byte: one row per
    *modified* doc with before/after token counts and the md5 of the
    cleaned text (hash-exact vs the SQL replica => the reconstruction is
    character-identical, not just same-size)."""
    docs = table(spark, sf_dir, "documents")
    cleaned = remove_duplicate_spans(docs, k=K)
    return cleaned.select(
        "doc_id",
        "tokens_before",
        "tokens_after",
        F.md5("clean_text").alias("clean_md5"),
    ).orderBy("doc_id")


@register(
    "top_duplicate_grams",
    oracle=f"""
    WITH elig AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS t,
             len(string_split({NORM_SQL}, ' ')) AS n
      FROM documents
      WHERE len(string_split({NORM_SQL}, ' ')) >= {K}),
    grams AS (
      SELECT doc_id, array_to_string(t[i:i+{K - 1}], ' ') AS gram
      FROM (SELECT doc_id, unnest(range(1, n - {K} + 2)) AS i, t FROM elig) s(doc_id, i, t))
    SELECT gram,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM grams
    GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_occurrences DESC, gram
    LIMIT 20
    """,
)
def top_duplicate_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-repeated cross-doc 8-grams (the boilerplate league table).

    This is the one span query that ships gram *text* through a shuffle —
    it has to, the text is the output. Aggregation is a single groupBy with
    map-side partials + TakeOrderedAndProject; total order via the gram
    tie-break."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(normalized_text("text"), " ")

    # _once-hoisted: capturing `toks` raw in the lambda re-runs the
    # normalize+split per gram (same O(n^2) trap fixed in
    # spandedup.kgram_occurrences)
    def grams_of(ts):
        return F.transform(
            F.sequence(F.lit(1), F.size(ts) - (K - 1)),
            lambda i: F.array_join(F.slice(ts, i, K), " "),
        )

    return (
        docs.where(F.size(toks) >= K)
        .select("doc_id", F.explode(_once(toks, grams_of)).alias("gram"))
        .groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Boilerplate removal (operators/spandedup.py remove_boilerplate)
# ---------------------------------------------------------------------------

#: boilerplate grain: word-3-grams (the discovery query
#: plans/curation_queries.py boilerplate_ngrams profiles the same grain)
#: shared by >= 4 documents. At sf0.01 that is 615 grams / 2650
#: occurrences over 27k corpus tokens — real removal, not a no-op.
BOILER_K = 3
BOILER_MIN_DF = 4

_BOILER_PRELUDE = f"""
    WITH elig AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS t,
             len(string_split({NORM_SQL}, ' ')) AS n
      FROM documents
      WHERE len(string_split({NORM_SQL}, ' ')) >= {BOILER_K}),
    starts AS (
      SELECT doc_id, unnest(range(1, n - {BOILER_K} + 2)) AS i, t FROM elig),
    occ AS (
      SELECT doc_id, i - 1 AS pos,
             md5(array_to_string(t[i:i+{BOILER_K - 1}], ' ')) AS gh
      FROM starts)
""".strip()


@register(
    "boilerplate_removal_stats",
    oracle=f"""
    {_BOILER_PRELUDE},
    boiler AS (
      SELECT gh FROM occ GROUP BY gh
      HAVING COUNT(DISTINCT doc_id) >= {BOILER_MIN_DF}),
    cov AS (
      SELECT DISTINCT occ.doc_id, unnest(range(pos, pos + {BOILER_K})) AS p
      FROM occ JOIN boiler USING (gh)),
    rem AS (SELECT doc_id, COUNT(*) AS removed FROM cov GROUP BY doc_id),
    tokpos AS (
      SELECT e.doc_id, i - 1 AS pos, t[i] AS tok
      FROM (SELECT doc_id, unnest(range(1, n + 1)) AS i, t FROM elig) e(doc_id, i, t)),
    kept AS (
      SELECT tp.doc_id, COUNT(*) AS tokens_after,
             string_agg(tp.tok, ' ' ORDER BY tp.pos) AS clean_text
      FROM tokpos tp
      JOIN rem USING (doc_id)
      LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.p = tp.pos
      WHERE cov.p IS NULL
      GROUP BY tp.doc_id)
    SELECT r.doc_id,
           CAST(COALESCE(k.tokens_after, 0) + r.removed AS BIGINT) AS tokens_before,
           CAST(COALESCE(k.tokens_after, 0) AS BIGINT) AS tokens_after,
           md5(COALESCE(k.clean_text, '')) AS clean_md5
    FROM rem r LEFT JOIN kept k USING (doc_id)
    ORDER BY r.doc_id
    """,
)
def boilerplate_removal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate REMOVAL verified to the byte (operators/spandedup.py
    remove_boilerplate): every occurrence of a word-3-gram shared by >= 4
    docs is dropped (no keeper — boilerplate has no canonical copy), and
    the cleaned text of every modified doc is reconstructed in original
    token order; the md5 hash-match against the SQL replica proves the
    reconstruction is character-identical. Composes the discovery profile
    (boilerplate_ngrams) with the Lee-et-al span-removal machinery —
    same shuffle shape: hash groupBy + hash join + per-doc bounded
    windows, nothing all-pairs."""
    from autonomous_orchestrator_ai_spark.operators.spandedup import (
        remove_boilerplate,
    )

    docs = table(spark, sf_dir, "documents")
    cleaned = remove_boilerplate(docs, k=BOILER_K, min_df=BOILER_MIN_DF)
    return cleaned.select(
        "doc_id",
        "tokens_before",
        "tokens_after",
        F.md5("clean_text").alias("clean_md5"),
    ).orderBy("doc_id")
