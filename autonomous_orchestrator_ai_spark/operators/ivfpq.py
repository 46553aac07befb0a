"""IVF-PQ: the complete FAISS-style ANN serving stack in one operator —
coarse-quantizer pruning (operators/ivf.py) + residual product-quantization
codes (operators/pq.py) + asymmetric-distance shortlist + exact re-rank.

This is the composition production vector stores actually run at 100 TB
(Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
TPAMI 2011 — the IVFADC system): the inverted file prunes the candidate set
to ``n_probe / n_cents`` of the corpus, the PQ codes compress each candidate
to ``m`` bytes so the scoring scan is memory-bandwidth-light, and only the
``shortlist`` survivors per query are read back at full width for an exact
re-rank. The pieces exist separately here (`ivf_topk`, `pq_adc_topk`); this
module fuses them with the one ingredient neither has alone: RESIDUAL
encoding. Quantizing ``x − centroid(x)`` instead of ``x`` removes the
between-bucket variance from the code's burden, which is where IVF-PQ's
accuracy edge over flat PQ comes from.

Scale shape:
- ``ivfpq_encode`` is one Arrow-batched ``mapInPandas`` pass (assignment +
  residual + sub-code argmax as a handful of BLAS matmuls per batch); the
  (centroids, codebooks) constants ride in the closure (KBs).
- ``ivfpq_topk`` never materializes all-pairs: candidates come from an
  equi-join on ``bucket`` (the IVF prune), scoring is a vectorized
  pandas UDF over candidate rows, and the shortlist cut is a per-query
  window over candidates only. Unlike ``pq_adc_topk`` (driver-collected
  query batch, LUT in the closure), every stage here is a distributed
  join/UDF; the probe side is broadcast, the right plan for the bounded
  serving batches every caller sends.

Determinism (the oracle contract): with ``fixed_centroids`` +
``fixed_pq_codebooks`` the whole pipeline is a pure function of the corpus —
bucket assignment (argmax of 2x·c − ‖c‖², ties to lowest id), residual
sub-codes (same rule per subspace), ADC score q·c_b + Σ_j q_j·cb_j[code],
shortlist (score desc, id asc) and exact-cosine re-rank are all re-derived
in plain SQL by ``plans.similarity_queries._ivfpq_oracle_sql`` and
hash-matched end to end.

Reference parity note: the reference system (Autonomous-Orchestrator-Ai)
has no ANN surface; this is part of the beyond-reference training-data
toolkit (SURVEY.md "similarity search").
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from autonomous_orchestrator_ai_spark.operators.similarity import (
    _as_double_array,
    cosine,
    rank_topk,
)


def ivfpq_encode(
    df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-pass distributed IVF-PQ encoding: vec → (bucket, pq_code).

    Per Arrow batch: bucket = argmax(2·X·Cᵀ − ‖c‖²) (squared-L2 argmin,
    ties to the lowest centroid id), residual R = X − C[bucket], then per
    subspace j: code_j = argmax(2·R_j·cbᵀ − ‖cb‖²) (ties to the lowest
    code). All BLAS; no per-row Python. Output keeps every non-vector
    input column and appends ``bucket int, pq_code array<int>`` — at scale
    this is the materialized index table, written partitioned by bucket so
    probes prune partitions. Like ``pq.pq_encode`` it runs on ``df``'s own
    partitions."""
    c = np.ascontiguousarray(centroids, dtype=np.float64)
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    c_norm2 = (c * c).sum(axis=1)
    m, n_codes, sub = cb.shape
    if c.shape[1] != m * sub:
        raise ValueError(
            f"centroid dim {c.shape[1]} != m*sub {m * sub} of the codebooks"
        )

    def encode(batches):
        for pdf in batches:
            x = np.array([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
            bucket = (2.0 * (x @ c.T) - c_norm2).argmax(axis=1)
            r = x - c[bucket]
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                rs = r[:, j * sub : (j + 1) * sub]
                cj = cb[j]
                codes[:, j] = (2.0 * (rs @ cj.T) - (cj * cj).sum(axis=1)).argmax(
                    axis=1
                )
            out = pdf.drop(columns=["__v"]).copy()
            out["bucket"] = bucket.astype(np.int32)
            out["pq_code"] = [row.tolist() for row in codes]
            yield out

    keep = [col for col in df.columns if col != vec_col]
    prepared = df.select(*keep, _as_double_array(vec_col).alias("__v"))
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in prepared.schema.fields
        if f.name != "__v"
    )
    return prepared.mapInPandas(
        encode, schema=f"{schema}, bucket int, pq_code array<int>"
    )


def _adc_score_udf(centroids: np.ndarray, codebooks: np.ndarray):
    """pandas UDF (qvec, bucket, pq_code) → ADC inner-product estimate
    q·x ≈ q·c_bucket + Σ_j q_j · cb_j[code_j]. Vectorized per batch: one
    (n, dim)·gather for the centroid term, m small gathers for the code
    terms. O(n·dim) per candidate row — the candidate set is already
    IVF-pruned, so n here is the post-prune count, not the corpus."""
    c = np.ascontiguousarray(centroids, dtype=np.float64)
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, n_codes, sub = cb.shape

    @pandas_udf("double")
    def score(qv: pd.Series, bucket: pd.Series, codes: pd.Series) -> pd.Series:
        q = np.array([np.asarray(v, dtype=np.float64) for v in qv])
        b = bucket.to_numpy(dtype=np.int64)
        code_mat = np.array([np.asarray(x) for x in codes], dtype=np.int64)
        total = np.einsum("nd,nd->n", q, c[b])
        for j in range(m):
            qs = q[:, j * sub : (j + 1) * sub]
            total += np.einsum("ns,ns->n", qs, cb[j][code_mat[:, j]])
        return pd.Series(total)

    return score


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 5,
    n_probe: int = 3,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC with exact refine: probe ``n_probe`` inverted lists, ADC-
    score only those lists' PQ codes, keep a ``shortlist`` per query, then
    re-rank the shortlist with exact cosine over the full vectors.

    Output matches the ANN family shape: (query_id, neighbor_id,
    cosine_sim, rank); a query is never its own neighbor. The probe side
    is a broadcast join, right for bounded serving batches."""
    from autonomous_orchestrator_ai_spark.operators.ivf import _probe_udf

    enc = ivfpq_encode(corpus, centroids, codebooks, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "bucket", "pq_code"
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double_array(vec_col).alias("__qv")
    )
    probed = q.withColumn(
        "bucket", F.explode(_probe_udf(centroids, n_probe)(F.col("__qv")))
    ).select("query_id", "__qv", "bucket")

    cand = enc.join(F.broadcast(probed), "bucket").filter(
        F.col("neighbor_id") != F.col("query_id")
    )

    scored = cand.select(
        "query_id",
        "neighbor_id",
        "__qv",
        _adc_score_udf(centroids, codebooks)(
            F.col("__qv"), F.col("bucket"), F.col("pq_code")
        ).alias("__adc"),
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("__adc"), F.asc("neighbor_id")
    )
    short = (
        scored.withColumn("__rn", F.row_number().over(ws))
        .filter(F.col("__rn") <= shortlist)
        .select("query_id", "neighbor_id", "__qv")
    )

    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double_array(vec_col).alias("__cv")
    )
    reranked = short.join(vecs, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        cosine(F.col("__qv"), F.col("__cv")).alias("__sim"),
    )
    return rank_topk(reranked, k)
