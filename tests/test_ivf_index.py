"""Persisted IVF index (operators/ivf_index.py): probe parity with the
inline operator, partition pruning, frozen-quantizer appends."""

import pytest
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.ivf import (
    ivf_topk,
    kmeans_sample,
)
from autonomous_orchestrator_ai_spark.operators.ivf_index import (
    append_to_ivf_index,
    build_ivf_index,
    load_ivf_centroids,
    query_ivf_index,
)
from autonomous_orchestrator_ai_spark.plans.registry import table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, r.cosine_sim, r.rank) for r in df.collect()
    )


@pytest.fixture(scope="module")
def emb(spark):
    return table(spark, SF, "embeddings")


@pytest.fixture(scope="module")
def centroids(emb):
    return kmeans_sample(emb, k=8, sample_size=200)


class TestIvfIndex:
    def test_probe_matches_inline_operator(self, spark, tmp_path, emb, centroids):
        queries = emb.filter(F.col("vec_id") < 10)
        path = str(tmp_path / "ivf")
        build_ivf_index(emb, path, centroids)
        via_index = query_ivf_index(spark, path, queries, k=5, n_probe=2)
        inline = ivf_topk(emb, queries, centroids, k=5, n_probe=2)
        assert _rows(via_index) == _rows(inline)

    def test_probe_scan_is_partition_pruned(self, spark, tmp_path, emb, centroids):
        path = str(tmp_path / "ivf")
        build_ivf_index(emb, path, centroids)
        probed = query_ivf_index(
            spark, path, emb.filter(F.col("vec_id") < 2), k=3, n_probe=1
        )
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        assert "bucket" in plan.split("PartitionFilters:")[1][:300]

    def test_append_uses_frozen_centroids_and_is_idempotent(
        self, spark, tmp_path, emb, centroids
    ):
        base = emb.filter(F.col("vec_id") < 100)
        extra = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))
        path = str(tmp_path / "ivf")
        build_ivf_index(base, path, centroids)
        append_to_ivf_index(extra, path, batch_id=0)
        n1 = spark.read.parquet(path).count()
        append_to_ivf_index(extra, path, batch_id=0)  # replay: no change
        assert spark.read.parquet(path).count() == n1 == 150
        # appended vectors are findable through the probe path
        out = query_ivf_index(
            spark, path, emb.filter(F.col("vec_id") == 120), k=3, n_probe=8
        )
        assert out.count() == 3
        # the quantizer round-trips exactly through the metadata
        assert (load_ivf_centroids(spark, path) == centroids).all()
        with pytest.raises(ValueError, match="batch_id must be >= 0"):
            append_to_ivf_index(extra, path, batch_id=-1)

    def test_missing_index_meta_raises(self, spark, tmp_path):
        with pytest.raises(ValueError, match="no IVF index metadata"):
            load_ivf_centroids(spark, str(tmp_path / "nope"))

    def test_empty_query_batch(self, spark, tmp_path, emb, centroids):
        path = str(tmp_path / "ivf")
        build_ivf_index(emb, path, centroids)
        out = query_ivf_index(
            spark, path, emb.filter(F.col("vec_id") < 0), k=3
        )
        assert out.count() == 0
        hit = query_ivf_index(spark, path, emb.filter(F.col("vec_id") == 0), k=3)
        assert hit.count() == 3
        assert out.dtypes == hit.dtypes
        # a probe certain to hit no live list, through the cold manifest
        # path: an index holding only centroid 0's own vector, probed
        # (n_probe=1) by centroid 1's, whose nearest list is list 1
        cvecs = spark.createDataFrame(
            [(i, centroids[i].tolist()) for i in (0, 1)],
            emb.select("vec_id", "embedding").schema,
        )
        one = str(tmp_path / "ivf_one")
        build_ivf_index(cvecs.filter(F.col("vec_id") == 0), one, centroids)
        dead = query_ivf_index(
            spark, one, cvecs.filter(F.col("vec_id") == 1), k=3, n_probe=1
        )
        assert dead.count() == 0
        assert dead.dtypes == hit.dtypes


# ---------------------------------------------------------------------------
# Bucket manifest (r7 — ported from the LSH index)
# ---------------------------------------------------------------------------

from autonomous_orchestrator_ai_spark.operators.ivf_index import (  # noqa: E402
    load_ivf_index,
    read_ivf_manifest,
)


def _manifest_totals(spark, path):
    m = read_ivf_manifest(spark, path)
    assert m is not None
    return sorted(
        (r["bucket"], r["__batch"], r["n_rows"]) for r in m.collect()
    )


def test_manifest_matches_data_and_survives_append_replay(
    spark, tmp_path, emb, centroids
):
    base = emb.filter(F.col("vec_id") < 80)
    batch = emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 100))
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, centroids)

    def data_counts():
        return sorted(
            (r["bucket"], r["__batch"], r["n"])
            for r in load_ivf_index(spark, path)
            .groupBy("bucket", "__batch")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )

    assert _manifest_totals(spark, path) == data_counts()
    append_to_ivf_index(batch, path, batch_id=0)
    after_append = _manifest_totals(spark, path)
    assert after_append == data_counts()
    # replaying the same batch leaves data AND manifest identical
    append_to_ivf_index(batch, path, batch_id=0)
    assert _manifest_totals(spark, path) == after_append == data_counts()


def test_cold_probe_via_manifest_matches_handle_path(
    spark, tmp_path, emb, centroids
):
    queries = emb.filter(F.col("vec_id") < 6)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, centroids)
    cold = query_ivf_index(  # no index_df -> manifest fast path
        spark, path, queries, k=4, n_probe=2
    )
    handle = query_ivf_index(
        spark, path, queries, k=4, n_probe=2,
        index_df=load_ivf_index(spark, path),
    )
    assert _rows(cold) == _rows(handle)
    assert read_ivf_manifest(spark, path) is not None


def test_partial_append_fails_loudly_then_heals_on_replay(
    spark, tmp_path, emb, centroids
):
    """Manifest-first append order (r7): a crash between the manifest and
    the entries write leaves a listed-but-missing bucket whose cold probe
    fails LOUDLY; replaying the batch heals both sides."""
    from autonomous_orchestrator_ai_spark.operators.ivf_index import (
        LAYOUT,
        _index_rows,
    )
    import numpy as np

    c = np.ascontiguousarray(centroids, dtype=np.float64)
    # base index holds only the vectors of ONE list; another list's
    # bucket directory therefore does not exist yet
    assigned = _index_rows(emb, c, "vec_id", "embedding").select(
        "neighbor_id", "bucket"
    )
    by_bucket = {}
    for r in assigned.collect():
        by_bucket.setdefault(r["bucket"], []).append(r["neighbor_id"])
    buckets = sorted(b for b, ids in by_bucket.items() if len(ids) >= 2)
    base_bucket, new_bucket = buckets[0], buckets[1]
    base = emb.filter(F.col("vec_id").isin(by_bucket[base_bucket]))
    batch_ids = by_bucket[new_bucket][:2]
    batch = emb.filter(F.col("vec_id").isin(batch_ids))
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, c)
    # simulate dying between the two writes: manifest lands, entries don't
    rows = _index_rows(batch, c, "vec_id", "embedding")
    LAYOUT.write_manifest(LAYOUT.entries(rows, 0), path, dynamic=True)
    queries = batch  # n_probe=1 probes exactly the new (missing) list
    with pytest.raises(Exception, match="PATH_NOT_FOUND|Path does not exist"):
        query_ivf_index(
            spark, path, queries, k=3, n_probe=1, exclude_self=False
        ).collect()
    # replay the batch through the real append: both sides heal
    append_to_ivf_index(batch, path, batch_id=0)
    healed = query_ivf_index(
        spark, path, queries, k=3, n_probe=1, exclude_self=False
    )
    found = {r["neighbor_id"] for r in healed.collect()}
    assert set(batch_ids) <= found
