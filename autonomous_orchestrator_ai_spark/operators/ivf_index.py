"""Persisted IVF index — the inverted-file analog of ``ann_index``'s LSH
layout (reference parity: none — the reference has no vector stack; this
is part of the training-data-pipeline surface).

``build_ivf_index`` freezes a coarse quantizer (k-means centroids, trained
on a bounded sample — operators.ivf.kmeans_sample) INTO the index metadata
and materializes the corpus partitioned by nearest-centroid bucket:
PARTITIONED BY (bucket). ``query_ivf_index`` loads the centroids back from
the meta (single source of truth — a probe can never use a different
quantizer than the build), computes each query's n_probe nearest lists
driver-side, and reads ONLY those bucket partitions (partition pruning),
exact-cosine re-ranking inside. ``append_to_ivf_index`` assigns new
vectors with the FROZEN centroids — the standard IVF maintenance contract
(the quantizer never retrains on append; rebuild when drift accumulates)
— writing under ``__batch=batch_id`` partitions for replay-idempotent
streaming appends, exactly like the LSH index.

At 100 TB: a probe touches n_probe/n_lists of the index; append cost is
one assignment pass over the batch; the quantizer rides in a few KB of
JSON metadata.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.ivf import _nearest_centroid_udf
from autonomous_orchestrator_ai_spark.operators.partitioned_index import (
    PartitionedIndex,
)
from autonomous_orchestrator_ai_spark.operators.partitioning import (
    ensure_min_parallelism,
)
from autonomous_orchestrator_ai_spark.operators.similarity import (
    _as_double_array,
)

#: On-disk layout: entries PARTITIONED BY (bucket, __batch) with the
#: ``_ivf_index_manifest`` / ``_ivf_index_meta`` underscore dirs beside them
#: (operators/partitioned_index.py). IVF's partition count is bounded by
#: n_lists at build, but streaming appends multiply it by the batch count,
#: so a long-lived index's directory tree grows without bound and cold
#: probes need the manifest exactly as the LSH index does.
LAYOUT = PartitionedIndex("ivf", ("bucket",))


def read_ivf_manifest(spark: SparkSession, path: str) -> DataFrame | None:
    """The IVF index's bucket manifest: (bucket, n_rows, __batch), one row
    per live data partition; None for a pre-manifest index (probes then
    fall back to directory discovery)."""
    return LAYOUT.read_manifest(spark, path)


def _index_rows(
    vectors: DataFrame, centroids: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """Shared assignment projection for build and append — one source of
    truth for the layout."""
    return (
        ensure_min_parallelism(vectors)
        .select(
            F.col(id_col).alias("neighbor_id"),
            _as_double_array(vec_col).alias("vec"),
        )
        .withColumn("bucket", _nearest_centroid_udf(centroids)(F.col("vec")))
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the inverted-file index at ``path`` and persist the
    coarse quantizer in its metadata. Build owns ``__batch=-1`` (appends
    start at 0, so an append can never dynamic-overwrite build
    partitions)."""
    c = np.ascontiguousarray(centroids, dtype=np.float64)
    LAYOUT.build(
        _index_rows(corpus, c, id_col, vec_col),
        path,
        {
            "n_lists": int(c.shape[0]),
            "dim": int(c.shape[1]),
            "centroids": json.dumps(c.tolist()),
        },
    )


def load_ivf_centroids(spark: SparkSession, path: str) -> np.ndarray:
    """The frozen quantizer, from the index's own metadata."""
    meta = LAYOUT.read_meta(spark, path)
    if meta is None:
        raise ValueError(f"no IVF index metadata at {path}/{LAYOUT.meta_dir}")
    c = np.array(json.loads(meta["centroids"]), dtype=np.float64)
    if c.shape != (int(meta["n_lists"]), int(meta["dim"])):
        raise ValueError(
            f"IVF meta inconsistent at {path}: centroids shape {c.shape} "
            f"!= (n_lists={meta['n_lists']}, dim={meta['dim']})"
        )
    return c


def load_ivf_index(spark: SparkSession, path: str) -> DataFrame:
    """One-time full-discovery handle for a ``build_ivf_index`` table, for
    SERVING: pass it to ``query_ivf_index(index_df=...)`` so repeated
    probes share one resolved file listing (same contract as
    ``ann_index.load_lsh_index``). After ``append_to_ivf_index``, reload —
    a cached handle's listing will not see new ``__batch`` directories."""
    return spark.read.parquet(path)


def query_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    index_df: DataFrame | None = None,
) -> DataFrame:
    """Probe the persisted index: per query, its ``n_probe`` nearest
    centroids' partitions are read via a bucket IN-list on the partition
    column (pruned scan — same contract as ``query_lsh_index``), then
    exact-cosine re-rank. Queries are a serving batch: vectors collect to
    the driver for the (tiny) centroid dot products.

    ``index_df``: a handle from ``load_ivf_index`` — long-lived servers
    pass this so repeated probes share one resolved file listing.
    Omitted, a COLD probe resolves the probed lists' paths from the
    bucket manifest written at build/append time and reads ONLY those
    directories — no index-tree discovery (r7; pre-manifest indexes fall
    back to a full listing, which grows with the append count)."""
    centroids = load_ivf_centroids(spark, path)
    qid_type = queries.schema[id_col].dataType.simpleString()
    qrows = queries.select(
        F.col(id_col).alias("query_id"), _as_double_array(vec_col).alias("__qv")
    ).collect()
    qm = np.array([r["__qv"] for r in qrows], dtype=np.float64).reshape(
        len(qrows), centroids.shape[1]
    )
    # SAME scoring as operators.ivf._probe_udf (squared-L2 argmin as
    # argmax of 2xc - |c|^2, stable ties) — a different probe metric here
    # would silently diverge from the inline operator
    c_norm2 = (centroids * centroids).sum(axis=1)
    scores = 2.0 * (qm @ centroids.T) - c_norm2
    probes = np.argsort(-scores, axis=1, kind="stable")[:, :n_probe]
    q = spark.createDataFrame(
        [
            (r["query_id"], r["__qv"], int(b))
            for r, bs in zip(qrows, probes)
            for b in bs
        ],
        f"query_id {qid_type}, __qv array<double>, bucket int",
    )
    probe_keys = {(int(b),) for b in probes.flat}
    return LAYOUT.query(spark, path, q, probe_keys, k, exclude_self, index_df)


def append_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Assign a batch of NEW vectors with the index's FROZEN centroids and
    dynamic-overwrite exactly this batch's (bucket, batch) partitions —
    replaying a batch (at-least-once foreachBatch) rewrites the same
    partitions to the same content. No retraining on append, by design.
    Manifest first, entries second (``PartitionedIndex.append``)."""
    LAYOUT.append(
        _index_rows(
            new_vectors,
            load_ivf_centroids(new_vectors.sparkSession, path),
            id_col,
            vec_col,
        ),
        path,
        batch_id,
    )
