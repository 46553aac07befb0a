"""PQ ANN (operators/pq.py): codebook shapes, exact encoding on separable
data, ADC ranking parity with a NumPy reference, and recall vs brute
force on the real embeddings table."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.pq import (
    fixed_pq_codebooks,
    pq_adc_topk,
    pq_encode,
    train_pq,
)
from autonomous_orchestrator_ai_spark.operators.similarity import cosine_topk
from autonomous_orchestrator_ai_spark.plans.registry import table

SF = "/root/testdata/sf0.001"


def test_train_pq_shapes_and_determinism(spark):
    emb = table(spark, SF, "embeddings")
    cb1 = train_pq(emb, m=8, n_codes=16, sample_size=256)
    cb2 = train_pq(emb, m=8, n_codes=16, sample_size=256)
    assert cb1.shape == (8, 16, 8)
    assert np.array_equal(cb1, cb2)


def test_train_pq_rejects_indivisible_dim(spark):
    emb = table(spark, SF, "embeddings")
    with pytest.raises(ValueError):
        train_pq(emb, m=7)


def test_encode_assigns_nearest_subcentroid(spark):
    # 2 subspaces of 2 dims, 2 codes each, constructed so assignment is obvious
    cb = np.array(
        [
            [[0.0, 0.0], [10.0, 10.0]],
            [[0.0, 5.0], [5.0, 0.0]],
        ]
    )
    df = spark.createDataFrame(
        [
            (1, [0.1, -0.1, 0.2, 4.9]),   # sub0 -> code0, sub1 -> code0
            (2, [9.8, 10.2, 4.7, 0.3]),   # sub0 -> code1, sub1 -> code1
        ],
        ["vec_id", "embedding"],
    )
    out = {r.vec_id: r.pq_code for r in pq_encode(df, cb).collect()}
    assert out[1] == [0, 0]
    assert out[2] == [1, 1]


def test_adc_matches_numpy_reference(spark):
    rng = np.random.default_rng(3)
    n, dim, m, n_codes = 60, 8, 4, 4
    vecs = rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        ["vec_id", "embedding"],
    )
    cb = train_pq(df, m=m, n_codes=n_codes, sample_size=n)
    codes_df = pq_encode(df, cb)
    queries = df.filter(F.col("vec_id") < 3)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.adc_score)
        for r in pq_adc_topk(codes_df, queries, cb, k=4).collect()
    }
    # NumPy reference: encode + LUT-sum, same tie-breaks
    codes = {r.vec_id: np.asarray(r.pq_code) for r in codes_df.collect()}
    sub = dim // m
    for qid in range(3):
        q = vecs[qid].reshape(m, sub)
        lut = np.einsum("js,jcs->jc", q, cb)
        scored = sorted(
            (
                (-round(sum(lut[j, codes[nid][j]] for j in range(m)), 9), nid)
                for nid in range(n)
                if nid != qid
            ),
        )
        for rank, (neg_s, nid) in enumerate(scored[:4], start=1):
            exp_id, exp_score = nid, -neg_s
            got_id, got_score = got[(qid, rank)]
            assert got_id == exp_id, (qid, rank, got_id, exp_id)
            assert abs(got_score - exp_score) < 1e-4


def test_adc_partial_topk_keeps_the_lowest_ids_of_a_tie(spark):
    """Ten rows of one batch share a code vector, so their ADC scores tie.
    The global rank breaks ties by neighbor id, so the batch's partial
    top-k must keep the lowest ids, not the first ones in batch order."""
    cb = np.array([[[1.0], [-1.0]], [[1.0], [-1.0]]])  # m=2, 2 codes, sub=1
    rows = [(i, [0, 0]) for i in range(10, 0, -1)] + [(11, [1, 1])]
    codes = spark.createDataFrame(rows, "vec_id bigint, pq_code array<int>")
    queries = spark.createDataFrame(
        [(100, [1.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    got = pq_adc_topk(codes.coalesce(1), queries, cb, k=3).orderBy("rank")
    assert [r.neighbor_id for r in got.collect()] == [1, 2, 3]


def test_encode_runs_on_the_input_partitions(one_partition_vectors):
    """The NumPy kernel costs microseconds per row; a round-robin exchange
    to spread a small input would only start more Python tasks."""
    df = one_partition_vectors
    enc = pq_encode(df, fixed_pq_codebooks(2, m=2, n_codes=4))
    assert enc.rdd.getNumPartitions() == df.rdd.getNumPartitions() == 1
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan


def test_pq_recall_vs_bruteforce_on_embeddings(spark):
    emb = table(spark, SF, "embeddings")
    # ADC ranks by inner product; normalizing first makes IP == cosine,
    # the standard prep for serving cosine from a PQ index (the embeddings
    # fixture has no zero vectors)
    vec = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))
    unit = emb.select("vec_id", F.transform(vec, lambda x: x / norm).alias("embedding"))
    queries = unit.filter(F.col("vec_id") < 10)
    cb = train_pq(unit, m=8, n_codes=32, sample_size=500)
    codes = pq_encode(unit, cb)
    approx = pq_adc_topk(codes, queries, cb, k=5)
    exact = cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    recall = len(a & e) / len(e)
    # raw ADC on near-random tightly-bunched vectors: shortlist quality,
    # not final quality (see test_pq_reranked_recall_vs_bruteforce)
    assert recall >= 0.2, recall


def test_pq_reranked_recall_vs_bruteforce(spark):
    from autonomous_orchestrator_ai_spark.operators.pq import pq_topk_reranked

    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cb = train_pq(emb, m=8, n_codes=32, sample_size=500)
    codes = pq_encode(emb, cb)
    approx = pq_topk_reranked(emb, codes, queries, cb, k=5, shortlist=50)
    exact = cosine_topk(emb, queries, k=5)
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.7, recall


def test_train_rejects_empty_input(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty input"):
        train_pq(empty, m=2)


def test_query_batch_bound_enforced(spark, monkeypatch):
    """pq_adc_topk ships a per-query LUT through the closure, so the query
    batch size is a hard capacity parameter (VERDICT r2 item 8): past
    MAX_QUERY_BATCH it must refuse with chunking guidance, not OOM."""
    from autonomous_orchestrator_ai_spark.operators import pq

    monkeypatch.setattr(pq, "MAX_QUERY_BATCH", 8)
    rng = np.random.default_rng(7)
    n, dim = 12, 8
    vecs = rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        ["vec_id", "embedding"],
    )
    cb = train_pq(df, m=4, n_codes=4, sample_size=n)
    codes_df = pq_encode(df, cb)
    with pytest.raises(ValueError, match="MAX_QUERY_BATCH"):
        pq_adc_topk(codes_df, df, cb, k=2)
    # at exactly the bound it runs
    out = pq_adc_topk(codes_df, df.filter(F.col("vec_id") < 8), cb, k=2)
    assert out.select("query_id").distinct().count() == 8
