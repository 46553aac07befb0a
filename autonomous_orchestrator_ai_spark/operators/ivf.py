"""IVF (inverted-file) approximate nearest-neighbor search — the coarse-
quantizer scale path alongside LSH (operators/similarity.py).

Two pieces:

1. ``kmeans_sample`` — Lloyd's iterations on a bounded deterministic
   sample (``collect_md5_sample``), driver-side: one job collects the
   sample, and training cost is independent of corpus size.
2. ``ivf_topk`` — corpus rows are bucketed by nearest centroid (the
   inverted lists); a query probes its ``n_probe`` nearest centroids and
   re-ranks only those lists with exact cosine. At 100 TB the inverted
   lists are a partitioned table clustered by centroid id; probe cost is
   (n_probe / k) of the corpus instead of all of it.

Why a pandas UDF for assignment and not DataFrame expressions: an
expression-tree argmin over k centroids is O(k·dim) nested
higher-order-function folds compiled into whole-stage codegen — at
k=8/dim=64 it already produces multi-MiB task binaries and ~100 s of JIT
per pass, and at a realistic k=4096 it is impossible. The matmul kernel is O(n·k·dim) BLAS with a
constant-size plan, which is the shape that survives a 100× scale-up.

Deterministic: centroids seed from the md5-ordered sample rows, no RNG
at runtime; ties in argmax break toward the lowest centroid id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from autonomous_orchestrator_ai_spark.operators.partitioning import (
    ensure_min_parallelism,
)
from autonomous_orchestrator_ai_spark.operators.similarity import (
    _as_double_array,
    cosine,
    rank_topk,
)


def _stack(v: pd.Series) -> np.ndarray:
    return np.array([np.asarray(x, dtype=np.float64) for x in v])


def _nearest_centroid_udf(centroids: np.ndarray):
    """pandas UDF: vec → nearest centroid id (squared-L2 argmin, expressed
    as argmax of 2·x·c − ‖c‖²; ties → lowest id via argmax semantics)."""
    c = np.ascontiguousarray(centroids, dtype=np.float64)
    c_norm2 = (c * c).sum(axis=1)

    @pandas_udf("int")
    def nearest(v: pd.Series) -> pd.Series:
        x = _stack(v)
        scores = 2.0 * (x @ c.T) - c_norm2
        return pd.Series(scores.argmax(axis=1).astype(np.int32))

    return nearest


def _probe_udf(centroids: np.ndarray, n_probe: int):
    """pandas UDF: vec → array of the ``n_probe`` nearest centroid ids
    (stable sort — score ties break toward the lowest id)."""
    c = np.ascontiguousarray(centroids, dtype=np.float64)
    c_norm2 = (c * c).sum(axis=1)

    @pandas_udf("array<int>")
    def probes(v: pd.Series) -> pd.Series:
        x = _stack(v)
        scores = 2.0 * (x @ c.T) - c_norm2
        idx = np.argsort(-scores, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.astype(np.int32).tolist() for row in idx])

    return probes


def collect_md5_sample(
    df: DataFrame, id_col: str, vec_col: str, sample_size: int
) -> np.ndarray:
    """One-job deterministic vector sample: the ``sample_size`` rows with
    the smallest ``md5(id)`` (TakeOrderedAndProject — pseudo-random
    spread, no global window, no count), collected as an (n, dim) float64
    matrix. Shared by every sampled-training recipe (IVF k-means, PQ
    codebooks). Raises on empty input — an arithmetic crash deep inside
    training would be undiagnosable."""
    rows = (
        df.select(F.col(id_col).alias("__id"), _as_double_array(vec_col).alias("__v"))
        .orderBy(F.md5(F.col("__id").cast("string")), F.col("__id"))
        .limit(sample_size)
        .collect()
    )
    if not rows:
        raise ValueError("cannot train on empty input (sample collected 0 rows)")
    return np.array([r["__v"] for r in rows], dtype=np.float64)


def lloyd_numpy(x: np.ndarray, k: int, iterations: int) -> np.ndarray:
    """Driver-side Lloyd's on a sample matrix; seeds = first k rows (the
    md5 sample is already shuffled). Squared-L2 argmin as argmax of
    2·x·cᵀ − ‖c‖²; ties break toward the lowest centroid id; tiny inputs
    pad seeds with repeats."""
    centroids = x[:k]
    if len(centroids) < k:
        centroids = np.vstack([centroids] * ((k // len(centroids)) + 1))[:k]
    centroids = centroids.copy()
    for _ in range(iterations):
        c_norm2 = (centroids * centroids).sum(axis=1)
        assign = (2.0 * (x @ centroids.T) - c_norm2).argmax(axis=1)
        new_centroids = centroids.copy()
        for c in range(k):
            members = x[assign == c]
            if len(members):
                new_centroids[c] = members.mean(axis=0)
        if np.allclose(new_centroids, centroids, atol=1e-9):
            break
        centroids = new_centroids
    return centroids


def kmeans_sample(
    df: DataFrame,
    k: int = 8,
    iterations: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
) -> np.ndarray:
    """Lloyd's k-means trained on a bounded deterministic sample,
    driver-side — the standard coarse-quantizer recipe (FAISS trains IVF
    lists on ~39·k..256·k sampled vectors, not the corpus). At 100 TB the
    sample is still ~k·256 rows, so training cost is independent of
    corpus size; only the ASSIGNMENT pass (ivf_topk's bucketing) scans the
    data, and that is one distributed job."""
    return lloyd_numpy(
        collect_md5_sample(df, id_col, vec_col, sample_size), k, iterations
    )


def fixed_centroids(dim: int, k: int, seed: int = 42) -> np.ndarray:
    """Frozen coarse quantizer: seeded Gaussian directions, row-normalized
    to unit norm so squared-L2 assignment partitions by ANGLE rather than
    by centroid magnitude (un-normalized random centroids skew every
    assignment toward the smallest-norm centroid). This is the
    production 'train once, serve forever' IVF shape — the quantizer is a
    constant, so bucket assignment, probing, and re-ranking are all
    deterministic functions of the corpus and therefore SQL-expressible
    (the derandomization that gives ``ivf_fixed_quantizer_topk`` a real
    DuckDB oracle, mirroring the lsh_ann_topk treatment)."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((k, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe the query's ``n_probe`` nearest inverted
    lists, exact-cosine re-rank inside them. Same output shape as
    cosine_topk: (query_id, neighbor_id, cosine_sim, rank); a query is
    never its own neighbor."""
    c = (
        ensure_min_parallelism(corpus)
        .select(
            F.col(id_col).alias("neighbor_id"),
            _as_double_array(vec_col).alias("__cv"),
        )
        .withColumn("bucket", _nearest_centroid_udf(centroids)(F.col("__cv")))
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double_array(vec_col).alias("__qv")
    )
    probed = q.withColumn(
        "bucket", F.explode(_probe_udf(centroids, n_probe)(F.col("__qv")))
    ).select("query_id", "__qv", "bucket")

    pairs = c.join(F.broadcast(probed), "bucket").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return rank_topk(
        pairs.select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qv"), F.col("__cv")).alias("__sim"),
        ),
        k,
    )
