"""KMV sketch queries (operators/kmv.py) — distinct estimation with a
measured accuracy contract, and the sketch's headline trick: cross-source
set overlap (Jaccard) WITHOUT a distinct-distinct join over raw data.

Both queries are hash-exact vs DuckDB: the md5-prefix hash is engine-stable
and the hash space (16^13 = 2^52) is a power of two, so every normalized
hash value, every rank decision and every estimate is bit-identical across
engines (see operators/kmv.py determinism contract). Unlike HLL these
sketches have no opaque binary: the sketch IS rows, so the full lifecycle
is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions.text import lower_tokens

from autonomous_orchestrator_ai_spark.operators.kmv import (
    kmv_distinct_estimate,
    kmv_jaccard_pairs,
    kmv_sketch,
)
from autonomous_orchestrator_ai_spark.plans.registry import register, table

_K_DISTINCT = 256
_K_JACCARD = 512

#: DuckDB mirror of operators/kmv.py kmv_hash (same 13-hex/52-bit draw as
#: curation_queries' sampling oracles; the +0.5 and the 2^52 divisor are
#: both exact in a double).
_H = (
    "(CAST(('0x' || substr(md5('{salt}:' || CAST({v} AS VARCHAR)), 1, 13)) "
    "AS BIGINT) + 0.5) / power(16.0, 13)"
)


@register(
    "kmv_distinct_contract",
    oracle=f"""
    WITH hashed AS (
      SELECT event_type, {_H.format(salt="kmvu", v="user_id")} AS h
      FROM events WHERE user_id IS NOT NULL
      GROUP BY ALL),
    ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hashed),
    agg AS (
      SELECT event_type, COUNT(*) AS n_kept, MAX(h) AS h_k
      FROM ranked WHERE rn <= {_K_DISTINCT} GROUP BY event_type),
    est AS (
      SELECT event_type,
             ROUND(CASE WHEN n_kept < {_K_DISTINCT} THEN CAST(n_kept AS DOUBLE)
                        ELSE {_K_DISTINCT - 1}.0 / h_k END, 4) AS est_distinct
      FROM agg),
    exact AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events WHERE user_id IS NOT NULL GROUP BY event_type)
    SELECT e.event_type, e.est_distinct, x.exact_distinct,
           ROUND(abs(e.est_distinct / x.exact_distinct - 1.0), 4) AS rel_err,
           abs(e.est_distinct / x.exact_distinct - 1.0) <= 0.2 AS within_tol
    FROM est e JOIN exact x USING (event_type)
    """,
)
def kmv_distinct_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-users-per-event-type vs the exact answer, with the
    sketch's error bound measured: rel_err ≤ 0.2 ≈ 3σ at k=256
    (σ ≈ 1/√(k−2), Beyer et al. §4). The exact COUNT(DISTINCT) side is
    affordable as a TEST oracle; at 100 TB the ≤k-row sketch replaces
    exactly that shuffle-heavy distinct, which is the point."""
    ev = table(spark, sf_dir, "events")
    sk = kmv_sketch(ev, "user_id", ["event_type"], _K_DISTINCT, salt="kmvu")
    est = kmv_distinct_estimate(sk, ["event_type"], _K_DISTINCT)
    exact = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").cast("bigint").alias("exact_distinct"))
    )
    rel = F.col("est_distinct") / F.col("exact_distinct") - 1.0
    return est.join(exact, "event_type").select(
        "event_type",
        "est_distinct",
        "exact_distinct",
        F.round(F.abs(rel), 4).alias("rel_err"),
        (F.abs(rel) <= 0.2).alias("within_tol"),
    )


_TOK_SQL = (
    "SELECT source, t AS token FROM documents, "
    "unnest(string_split_regex(lower(trim(text)), '\\s+')) AS u(t) "
    "WHERE t <> ''"
)


@register(
    "kmv_token_jaccard_by_source",
    oracle=f"""
    WITH tok AS ({_TOK_SQL}),
    hashed AS (
      SELECT source, {_H.format(salt="kmvt", v="token")} AS h
      FROM tok GROUP BY ALL),
    sk AS (
      SELECT source AS g, h FROM (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hashed) WHERE rn <= {_K_JACCARD}),
    pairs AS (
      SELECT a.g AS g_a, b.g AS g_b
      FROM (SELECT DISTINCT g FROM sk) a
      JOIN (SELECT DISTINCT g FROM sk) b ON a.g < b.g),
    uni AS (
      SELECT p.g_a, p.g_b, s.h,
             MAX(CASE WHEN s.g = p.g_a THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN s.g = p.g_b THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN sk s ON s.g IN (p.g_a, p.g_b)
      GROUP BY p.g_a, p.g_b, s.h),
    kmin AS (
      SELECT * FROM (
        SELECT uni.*, ROW_NUMBER() OVER (PARTITION BY g_a, g_b ORDER BY h)
               AS urn
        FROM uni) WHERE urn <= {_K_JACCARD}),
    est AS (
      SELECT g_a, g_b,
             CAST(COUNT(*) AS BIGINT) AS k_prime,
             CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
             ROUND(SUM(in_a * in_b) * 1.0 / COUNT(*), 4) AS jaccard_est
      FROM kmin GROUP BY g_a, g_b),
    toksets AS (SELECT DISTINCT source, token FROM tok),
    sizes AS (SELECT source, COUNT(*) AS n FROM toksets GROUP BY source),
    inter AS (
      SELECT a.source AS g_a, b.source AS g_b, COUNT(*) AS n_inter
      FROM toksets a JOIN toksets b
        ON a.token = b.token AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT e.g_a, e.g_b, e.k_prime, e.n_both, e.jaccard_est,
           ROUND(COALESCE(i.n_inter, 0) * 1.0 /
                 (sa.n + sb.n - COALESCE(i.n_inter, 0)), 4) AS jaccard_exact,
           ROUND(abs(e.jaccard_est - COALESCE(i.n_inter, 0) * 1.0 /
                 (sa.n + sb.n - COALESCE(i.n_inter, 0))), 4) AS abs_err,
           abs(e.jaccard_est - COALESCE(i.n_inter, 0) * 1.0 /
               (sa.n + sb.n - COALESCE(i.n_inter, 0)))
             <= 1.5 / sqrt(e.k_prime) AS within_tol
    FROM est e
    JOIN sizes sa ON sa.source = e.g_a
    JOIN sizes sb ON sb.source = e.g_b
    LEFT JOIN inter i ON i.g_a = e.g_a AND i.g_b = e.g_b
    """,
)
def kmv_token_jaccard_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap from KMV sketches, with the exact
    Jaccard measured next to it: (g_a, g_b, k_prime, n_both, jaccard_est,
    jaccard_exact, abs_err, within_tol). Tolerance 1.5/√k' ≈ 3σ of the
    k-min estimator at worst-case J=0.5.

    Scale shape: the token explode feeds a map-side-combined distinct per
    source, the sketch is ≤k rows/source, and every pairwise comparison
    runs over ≤2k sketch rows — the exact-intersection side (a token
    self-join) exists only to measure the contract and is what the sketch
    REPLACES at 100 TB."""
    docs = table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "source",
            F.explode(lower_tokens("text")).alias("token"),
        )
        .where(F.col("token") != "")
    )
    sk = kmv_sketch(tok, "token", ["source"], _K_JACCARD, salt="kmvt")
    est = kmv_jaccard_pairs(sk, "source", _K_JACCARD)

    toksets = tok.distinct()
    sizes = toksets.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = toksets.select(F.col("source").alias("g_a"), "token")
    b = toksets.select(F.col("source").alias("g_b"), "token")
    inter = (
        a.join(b, ["token"])
        .where(F.col("g_a") < F.col("g_b"))
        .groupBy("g_a", "g_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("g_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("g_b"), F.col("n").alias("n_b"))
    j_exact = F.coalesce(F.col("n_inter"), F.lit(0)) / (
        F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_inter"), F.lit(0))
    )
    err = F.abs(F.col("jaccard_est") - j_exact)
    # inter holds one row per source pair, but its static estimate (a token
    # self-join) plans a sort-merge join that AQE turns into this broadcast
    # at run time only if inter's stage ends before est's shuffle starts:
    # the race left a 12th job and its classes on some passes (PERF.md)
    return (
        est.join(F.broadcast(inter), ["g_a", "g_b"], "left")
        .join(F.broadcast(sa), "g_a")
        .join(F.broadcast(sb), "g_b")
        .select(
            "g_a",
            "g_b",
            "k_prime",
            "n_both",
            "jaccard_est",
            F.round(j_exact, 4).alias("jaccard_exact"),
            F.round(err, 4).alias("abs_err"),
            (err <= 1.5 / F.sqrt(F.col("k_prime"))).alias("within_tol"),
        )
    )
