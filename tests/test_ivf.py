"""IVF ANN tests: sampled k-means (``kmeans_sample``, the coarse quantizer
``ivf_ann_topk`` trains) converges on separable clusters, and IVF recall vs
brute force on clustered data."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.ivf import ivf_topk, kmeans_sample
from autonomous_orchestrator_ai_spark.operators.similarity import cosine_topk


@pytest.fixture(scope="module")
def clustered(spark):
    """4 well-separated Gaussian clusters in 8d, 50 points each."""
    rng = np.random.default_rng(7)
    centers = np.eye(4, 8) * 10.0
    rows = []
    vid = 0
    for cid in range(4):
        for _ in range(50):
            v = centers[cid] + rng.normal(0, 0.5, 8)
            rows.append((vid, [float(x) for x in v], cid))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding", "true_cluster"])


def test_kmeans_recovers_clusters(spark, clustered):
    centroids = kmeans_sample(clustered, k=4, iterations=5)
    assert centroids.shape == (4, 8)
    # each true center has one recovered centroid within 1.0
    centers = np.eye(4, 8) * 10.0
    for c in centers:
        d = np.linalg.norm(centroids - c, axis=1).min()
        assert d < 1.0, d


def test_ivf_topk_high_recall_on_clustered(spark, clustered):
    centroids = kmeans_sample(clustered, k=4, iterations=5)
    queries = clustered.filter(F.col("vec_id") % 50 == 0)  # one per cluster
    exact = cosine_topk(clustered, queries, k=5)
    approx = ivf_topk(clustered, queries, centroids, k=5, n_probe=1)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # neighbors of a clustered point live in its own inverted list
    assert recall >= 0.9, recall


def test_ivf_output_shape(spark, clustered):
    centroids = kmeans_sample(clustered, k=4, iterations=2)
    out = ivf_topk(clustered, clustered.limit(3), centroids, k=5, n_probe=2)
    rows = out.collect()
    assert {r["rank"] for r in rows} <= {1, 2, 3, 4, 5}
    assert all(-1.0 <= r["cosine_sim"] <= 1.0 for r in rows)
