"""Unit tests for operators/retrieval.py (BM25), similarity.hard_negatives,
and operators/mlstats.py (MI, WOE/IV, RFM) on hand-checkable fixtures.

The registered queries are oracle-checked end-to-end by check_oracle; these
pin the operator-level math on inputs small enough to verify by hand.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.mlstats import (
    mutual_information_pairs,
    rfm_segments,
    woe_iv,
)


def mutual_information(df, x_col, y_col):
    """One (x, y) pair of ``mutual_information_pairs``."""
    return mutual_information_pairs(df, [("x", x_col, "y", y_col)])
from autonomous_orchestrator_ai_spark.operators.retrieval import bm25_scores
from autonomous_orchestrator_ai_spark.operators.similarity import (
    hard_negatives,
)


def test_bm25_matches_hand_computation(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="spark join spark"),
            Row(doc_id=2, text="join window sort"),
            Row(doc_id=3, text="filter scan merge"),
        ]
    )
    out = {
        r["doc_id"]: r
        for r in bm25_scores(docs, ["spark", "window"]).collect()
    }
    # doc 3 matches nothing
    assert set(out) == {1, 2}
    # hand computation: N=3, avgdl=3, all dl=3 -> length norm term = 1
    # spark: df=1, tf(doc1)=2 ; window: df=1, tf(doc2)=1
    idf = math.log(1 + (3 - 1 + 0.5) / (1 + 0.5))
    k1, b = 1.2, 0.75
    s1 = idf * (2 * (k1 + 1)) / (2 + k1 * (1 - b + b * 1.0))
    s2 = idf * (1 * (k1 + 1)) / (1 + k1 * (1 - b + b * 1.0))
    assert out[1]["n_hit_terms"] == 1 and out[2]["n_hit_terms"] == 1
    assert out[1]["score"] == pytest.approx(s1, rel=1e-12)
    assert out[2]["score"] == pytest.approx(s2, rel=1e-12)


def test_bm25_rejects_empty_query(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="a")])
    with pytest.raises(ValueError):
        bm25_scores(docs, [])


def test_hard_negatives_excludes_same_label(spark):
    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0], label=0),
            Row(vec_id=1, embedding=[0.99, 0.1], label=0),  # same label
            Row(vec_id=2, embedding=[0.9, 0.4], label=1),
            Row(vec_id=3, embedding=[0.0, 1.0], label=1),
        ]
    )
    out = hard_negatives(
        emb, emb.filter(F.col("vec_id") == 0), k=2
    ).collect()
    # vec 1 shares label 0 -> excluded even though it's the nearest
    assert [r["neighbor_id"] for r in out] == [2, 3]
    assert all(r["neighbor_label"] == 1 for r in out)
    assert [r["rank"] for r in out] == [1, 2]


def test_mutual_information_independent_and_dependent(spark):
    # X uniform on {a,b}, Y == X -> MI = H(X) = ln 2, NMI = 1
    dep = spark.createDataFrame(
        [Row(x="a", y="a"), Row(x="b", y="b")] * 4
    )
    r = mutual_information(dep, "x", "y").collect()[0]
    assert r["mi_nats"] == pytest.approx(math.log(2), abs=1e-6)
    assert r["normalized_mi"] == pytest.approx(1.0, abs=1e-6)
    # independent 2x2 grid -> MI = 0
    ind = spark.createDataFrame(
        [Row(x=x, y=y) for x in "ab" for y in "cd"] * 3
    )
    r = mutual_information(ind, "x", "y").collect()[0]
    assert r["mi_nats"] == pytest.approx(0.0, abs=1e-6)
    assert r["n"] == 12


def test_mutual_information_counts_nulls_as_category(spark):
    df = spark.createDataFrame(
        [Row(x="a", y=None), Row(x="a", y=None), Row(x="b", y="v"),
         Row(x="b", y="v")],
        "x string, y string",
    )
    # NULL tracks x perfectly -> maximal dependence
    r = mutual_information(df, "x", "y").collect()[0]
    assert r["normalized_mi"] == pytest.approx(1.0, abs=1e-6)


def test_woe_iv_directions(spark):
    rows = (
        [Row(cat="hi", label=1)] * 8 + [Row(cat="hi", label=0)] * 2
        + [Row(cat="lo", label=1)] * 2 + [Row(cat="lo", label=0)] * 8
    )
    df = spark.createDataFrame(rows)
    out = {r["category"]: r for r in woe_iv(df, "cat", F.col("label") == 1).collect()}
    assert out["hi"]["woe"] > 0 > out["lo"]["woe"]
    # smoothed woe: ln((8.5/11)/(2.5/11)) for hi; symmetric for lo
    assert out["hi"]["woe"] == pytest.approx(math.log(8.5 / 2.5), abs=1e-6)
    assert out["lo"]["woe"] == pytest.approx(-math.log(8.5 / 2.5), abs=1e-6)
    assert out["hi"]["iv_contrib"] > 0 and out["lo"]["iv_contrib"] > 0
    assert out["hi"]["n"] == 10 and out["hi"]["n_event"] == 8
    assert out["hi"]["n_null_target"] == 0


def test_mutual_information_constant_column_nmi_zero(spark):
    # constant X has entropy 0 -> normalized MI is DEFINED as 0, not NaN
    df = spark.createDataFrame(
        [Row(x="k", y=v) for v in ["a", "b", "a", "b"]]
    )
    r = mutual_information(df, "x", "y").collect()[0]
    assert r["entropy_x"] == pytest.approx(0.0, abs=1e-9)
    assert r["normalized_mi"] == 0.0


def test_woe_iv_null_category_and_null_target_reconcile(spark):
    rows = (
        [Row(cat="hi", label=True)] * 3
        + [Row(cat="hi", label=None)] * 2       # unlabeled rows
        + [Row(cat=None, label=False)] * 4      # NULL feature category
        + [Row(cat=None, label=True)] * 1
    )
    df = spark.createDataFrame(rows, "cat string, label boolean")
    out = {r["category"]: r for r in woe_iv(df, "cat", F.col("label")).collect()}
    # NULL category survives as the join-safe sentinel
    assert set(out) == {"hi", "<NULL>"}
    # per-category counts reconcile: n = event + non_event + null_target
    for r in out.values():
        assert r["n"] == r["n_event"] + r["n_non_event"] + r["n_null_target"]
    assert out["hi"]["n_null_target"] == 2
    assert out["hi"]["n_event"] == 3 and out["hi"]["n_non_event"] == 0
    assert out["<NULL>"]["n_event"] == 1 and out["<NULL>"]["n_non_event"] == 4


def test_rfm_segments_quartiles(spark):
    import datetime as dt

    rows = []
    # 8 customers, customer i places i+1 orders of 100*(i+1) each,
    # last order i days before the as-of date
    for i in range(8):
        for j in range(i + 1):
            rows.append(
                Row(
                    o_custkey=i,
                    o_orderdate=dt.datetime(2020, 1, 20 - i) - dt.timedelta(days=j),
                    o_totalprice=100.0 * (i + 1),
                )
            )
    df = spark.createDataFrame(rows)
    out = {r["custkey"]: r for r in rfm_segments(df, "2020-01-21").collect()}
    assert len(out) == 8
    # customer 7: most orders + highest spend -> f = m = 4; oldest last
    # order -> r = 1. Customer 0 is the mirror image.
    assert out[7]["f"] == 4 and out[7]["m"] == 4 and out[7]["r"] == 1
    assert out[0]["f"] == 1 and out[0]["m"] == 1 and out[0]["r"] == 4
    assert out[7]["segment"] == "R1F4M4"
    assert out[0]["recency_days"] == 1
    assert out[7]["frequency"] == 8
    assert out[7]["monetary"] == pytest.approx(8 * 800.0)


def test_rrf_fuse_math_and_missing_legs(spark):
    from autonomous_orchestrator_ai_spark.operators.retrieval import rrf_fuse

    sparse = spark.createDataFrame(
        [Row(doc_id=1, rank=1), Row(doc_id=2, rank=2)]
    )
    dense = spark.createDataFrame(
        [Row(doc_id=2, rank=1), Row(doc_id=3, rank=2)]
    )
    out = {
        r["doc_id"]: r
        for r in rrf_fuse(
            [("sparse", sparse), ("dense", dense)], k=60
        ).collect()
    }
    assert out[2]["rrf_score"] == pytest.approx(1 / 62 + 1 / 61)
    assert out[1]["rrf_score"] == pytest.approx(1 / 61)  # missing dense leg
    assert out[3]["rrf_score"] == pytest.approx(1 / 62)
    assert out[1]["rank_dense"] is None and out[3]["rank_sparse"] is None
    with pytest.raises(ValueError):
        rrf_fuse([("one", sparse)])


def test_bm25_accepts_terms_dataframe(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="spark join spark"), Row(doc_id=2, text="sort")]
    )
    terms = spark.createDataFrame([Row(token="SPARK")])  # lowercased inside
    out = bm25_scores(docs, terms).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_poisson_bootstrap_mean_contract(spark):
    """Point estimate equals the plain mean; SE is positive and the CI
    brackets the point; draws are deterministic across invocations."""
    from autonomous_orchestrator_ai_spark.operators.mlstats import (
        poisson_bootstrap_mean,
    )

    df = spark.createDataFrame(
        [Row(k=i, v=float(i % 7)) for i in range(200)]
    )
    out = poisson_bootstrap_mean(
        df, F.col("v"), F.col("k"), n_replicates=10
    ).collect()
    assert len(out) == 1
    r = out[0]
    exact = sum(i % 7 for i in range(200)) / 200.0
    assert r["point_mean"] == pytest.approx(exact, abs=1e-6)
    assert r["n_rows"] == 200
    assert r["boot_se"] > 0
    assert r["ci_lo"] < r["point_mean"] < r["ci_hi"]
    # determinism: identical second run
    again = poisson_bootstrap_mean(
        df, F.col("v"), F.col("k"), n_replicates=10
    ).collect()[0]
    assert again == r
    with pytest.raises(ValueError):
        poisson_bootstrap_mean(df, F.col("v"), F.col("k"), n_replicates=1)


def test_poisson1_draw_distribution(spark):
    """The md5-uniform -> Poisson(1) draw has the right first moments
    over many rows (mean ~= 1, var ~= 1)."""
    from autonomous_orchestrator_ai_spark.operators.mlstats import (
        bootstrap_uniform,
        poisson1_draw,
    )

    df = spark.range(20000).select(
        poisson1_draw(
            bootstrap_uniform(F.col("id"), F.lit(0))
        ).alias("w")
    )
    r = df.agg(
        F.avg("w").alias("m"), F.var_pop("w").alias("v")
    ).collect()[0]
    assert r["m"] == pytest.approx(1.0, abs=0.05)
    assert r["v"] == pytest.approx(1.0, abs=0.1)
