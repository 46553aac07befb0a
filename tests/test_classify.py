"""Hashed-feature linear classifier (operators/classify.py): the frozen
expression form and the weight-table join form must be the same model."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions.text import normalized_text
from autonomous_orchestrator_ai_spark.operators import classify
from autonomous_orchestrator_ai_spark.operators.classify import (
    N_BUCKETS,
    frozen_weight_table,
    hashed_linear_score,
    token_bucket,
)

NB = 4096  # small feature space for the bucketing test


def _table_scores(docs, weights, n_buckets):
    """Reference scorer, (doc_id, score): explode tokens -> bucket ->
    broadcast-join a (bucket, weight) table -> per-doc mean -> sigmoid.
    Tokens missing from the table weigh 0."""
    toks = docs.select(
        "doc_id", F.explode(F.split(normalized_text("text"), " ")).alias("tok")
    ).select("doc_id", token_bucket(F.col("tok"), n_buckets).alias("bucket"))
    joined = toks.join(F.broadcast(weights), "bucket", "left").select(
        "doc_id", F.coalesce(F.col("weight"), F.lit(0.0)).alias("w")
    )
    logit = F.sum("w") / F.count(F.lit(1))
    return joined.groupBy("doc_id").agg(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("score")
    )


def _docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=0, text="alpha beta gamma delta"),
            Row(doc_id=1, text="  Alpha   BETA gamma delta "),  # normalizes to doc 0
            Row(doc_id=2, text="zeta eta theta iota kappa"),
            Row(doc_id=3, text="alpha alpha alpha alpha"),
            Row(doc_id=4, text=None),
        ]
    )


def test_expression_and_table_paths_agree(spark):
    docs = _docs(spark).where(F.col("text").isNotNull())
    expr = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id", hashed_linear_score("text").alias("s")
        ).collect()
    }
    table = {
        r["doc_id"]: r["score"]
        for r in _table_scores(
            docs, frozen_weight_table(spark), N_BUCKETS
        ).collect()
    }
    assert set(expr) == set(table)
    for d in expr:
        assert abs(expr[d] - table[d]) < 1e-12, d


def test_normalization_makes_scores_text_canonical(spark):
    scores = {
        r["doc_id"]: r["s"]
        for r in _docs(spark)
        .where(F.col("doc_id").isin(0, 1))
        .select("doc_id", hashed_linear_score("text").alias("s"))
        .collect()
    }
    assert scores[0] == scores[1]


def test_null_text_scores_sigmoid_of_bias(spark):
    """The frozen model's bias is 0, so NULL text scores sigmoid(0)."""
    row = (
        _docs(spark)
        .where(F.col("doc_id") == 4)
        .select(hashed_linear_score("text").alias("s"))
        .collect()[0]
    )
    assert row["s"] == 0.5


def test_scores_are_probabilities(spark):
    docs = _docs(spark).where(F.col("text").isNotNull())
    scores = [r["s"] for r in docs.select(hashed_linear_score("text").alias("s")).collect()]
    assert all(0.0 < s < 1.0 for s in scores)
    assert len(set(scores)) > 1


def test_bucketing_is_stable_and_in_range(spark):
    rows = (
        spark.createDataFrame([Row(t="alpha"), Row(t="beta"), Row(t="alpha")])
        .select(token_bucket(F.col("t"), NB).alias("b"))
        .collect()
    )
    assert all(0 <= r["b"] < NB for r in rows)
    assert rows[0]["b"] == rows[2]["b"]


def test_expression_form_plan_has_no_exchange(spark):
    docs = _docs(spark).where(F.col("text").isNotNull())
    plan = (
        docs.select(hashed_linear_score("text").alias("s"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# Distributed training (train_logistic_gd)
# ---------------------------------------------------------------------------

import numpy as np  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from autonomous_orchestrator_ai_spark.operators.classify import (  # noqa: E402
    INTERCEPT_BUCKET,
    WEIGHT_DECIMALS,
    hashed_features,
    score_features,
    train_logistic_gd,
)

_FEAT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("bucket", LongType()),
        StructField("x", DoubleType()),
    ]
)


def _synthetic_problem(n_docs=37, n_buckets=12, seed=7):
    """Deterministic sparse design matrix + linearly-separable-ish labels.

    n_docs is PRIME (not 2/5-smooth): gradients divide by n_docs, and a
    round count of docs plus short-decimal x values would park raw weights
    exactly on 1e-9 grid midpoints, where summation order legitimately
    flips the last digit between engines."""
    rng = np.random.RandomState(seed)
    rows, X = [], np.zeros((n_docs, n_buckets + 1))
    true_w = rng.uniform(-2, 2, n_buckets + 1)
    for d in range(n_docs):
        rows.append((d, INTERCEPT_BUCKET, 1.0))
        X[d, 0] = 1.0
        for b in rng.choice(n_buckets, size=5, replace=False):
            x = round(float(rng.uniform(0.05, 0.5)), 6)
            rows.append((d, int(b), x))
            X[d, b + 1] = x
    y = (X @ true_w > 0).astype(float)
    return rows, X, y


def _round_half_up(v, decimals):
    """Spark/DuckDB ROUND semantics (half away from zero) — np.round is
    half-to-even and differs on exact grid boundaries."""
    s = 10.0 ** decimals
    return np.sign(v) * np.floor(np.abs(v) * s + 0.5) / s


def _numpy_gd(X, y, rounds, lr):
    """Reference trainer: full-batch GD with the SAME per-round 1e-9 weight
    quantization as train_logistic_gd."""
    n, w = len(y), np.zeros(X.shape[1])
    for _ in range(rounds):
        p = 1.0 / (1.0 + np.exp(-(X @ w)))
        w = _round_half_up(w - lr * (X.T @ (p - y) / n), WEIGHT_DECIMALS)
    return w


def test_train_logistic_gd_matches_numpy(spark):
    """Weights parity vs a dense NumPy reference at 1e-9: the per-round
    quantization snaps both to the same decimal grid, so the distributed
    trainer must land on the NumPy trainer's exact weights."""
    rows, X, y = _synthetic_problem()
    feats = spark.createDataFrame(rows, _FEAT_SCHEMA)
    labels = spark.createDataFrame(
        [(int(d), float(v)) for d, v in enumerate(y)], ["doc_id", "y"]
    )
    w = train_logistic_gd(feats, labels, rounds=6, lr=2.5)
    got = {r["bucket"]: r["weight"] for r in w.collect()}
    ref = _numpy_gd(X, y, rounds=6, lr=2.5)
    assert set(got) == {INTERCEPT_BUCKET, *range(X.shape[1] - 1)}
    for b, wv in got.items():
        col = 0 if b == INTERCEPT_BUCKET else b + 1
        assert abs(wv - ref[col]) <= 1e-9, (b, wv, ref[col])


def test_trained_model_separates_separable_labels(spark):
    rows, X, y = _synthetic_problem()
    feats = spark.createDataFrame(rows, _FEAT_SCHEMA)
    labels = spark.createDataFrame(
        [(int(d), float(v)) for d, v in enumerate(y)], ["doc_id", "y"]
    )
    w = train_logistic_gd(feats, labels, rounds=25, lr=8.0)
    scored = {
        r["doc_id"]: r["score"] for r in score_features(feats, w).collect()
    }
    acc = np.mean([(scored[d] >= 0.5) == (y[d] == 1.0) for d in scored])
    assert acc >= 0.8, acc


def _train_both(spark, routes, monkeypatch, rounds, lr):
    rows, X, y = _synthetic_problem()
    feats = spark.createDataFrame(rows, _FEAT_SCHEMA)
    labels = spark.createDataFrame(
        [(int(d), float(v)) for d, v in enumerate(y)], ["doc_id", "y"]
    )
    routes.clear()
    w_es = train_logistic_gd(feats, labels, rounds=rounds, lr=lr)
    [rec] = routes("logistic_gd_rounds")
    assert rec["budget"] == rounds
    monkeypatch.setattr(classify, "GD_EARLY_STOP", False)
    w_full = train_logistic_gd(feats, labels, rounds=rounds, lr=lr)
    as_dict = lambda w: {r["bucket"]: r["weight"] for r in w.collect()}
    return as_dict(w_es), as_dict(w_full), rec["chosen"]


def test_early_stop_fixed_point_is_bit_identical(spark, routes, monkeypatch):
    """A learning rate small enough that every update rounds to the 1e-9
    grid's zero makes round 1 a snapped fixed point: early_stop must exit
    after ONE round with weights bit-identical to the full 7-round loop
    (whose six tail rounds recompute the same all-zero table)."""
    got, full, rounds_run = _train_both(spark, routes, monkeypatch, rounds=7, lr=1e-12)
    assert rounds_run == 1
    assert got == full


def test_early_stop_does_not_fire_before_convergence(spark, routes, monkeypatch):
    """On the standard fixture at a real learning rate the deltas stay
    above the snap grid for all 6 rounds: early_stop must run the full
    count and return exactly the un-stopped weights (the default path is
    unchanged, not merely approximately equal)."""
    got, full, rounds_run = _train_both(spark, routes, monkeypatch, rounds=6, lr=2.5)
    assert rounds_run == 6
    assert got == full


def test_hashed_features_structure(spark):
    docs = _docs(spark).where(F.col("text").isNotNull())
    feats = hashed_features(docs)
    rows = feats.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, rs in by_doc.items():
        buckets = {r["bucket"] for r in rs}
        # intercept + all six structural sentinels present exactly once
        assert {-1, -2, -3, -4, -5, -6, -7} <= buckets
        assert len(rs) == len(buckets)
        # mean-pooled BoW mass sums to 1
        bow = sum(r["x"] for r in rs if r["bucket"] >= 0)
        assert abs(bow - 1.0) < 1e-12
        # intercept is exactly 1
        assert [r["x"] for r in rs if r["bucket"] == -1] == [1.0]
        # structural values are finite and non-negative
        for r in rs:
            if r["bucket"] < -1:
                assert r["x"] >= 0.0 and np.isfinite(r["x"])


def test_trained_score_expr_matches_weight_table_path(spark):
    """r7: the stateless map form (trained_score_expr — the streaming
    tick's scoring stage) must agree with the explode + join + groupBy
    table form to float-summation noise; only the summation ORDER differs
    (array fold vs partial aggregates). Missing buckets contribute 0 on
    both paths, and an empty weight dict scores sigmoid(0) exactly."""
    from autonomous_orchestrator_ai_spark.operators.classify import (
        TRAIN_BUCKETS,
        trained_score_expr,
        weight_table_as_dict,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "lorem ipsum dolor sit amet consectetur"),
            (3, ""),
            (4, "UPPER  case   and\twhitespace normalization"),
        ],
        ["doc_id", "text"],
    )
    wdf = spark.createDataFrame(
        [(b, ((b % 13) - 6) / 9.0) for b in range(0, 4096, 3)],
        "bucket bigint, weight double",
    )
    via_table = {
        r["doc_id"]: r["score"]
        for r in _table_scores(docs, wdf, TRAIN_BUCKETS).collect()
    }
    wmap = weight_table_as_dict(wdf)
    via_expr = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id", trained_score_expr("text", wmap).alias("s")
        ).collect()
    }
    assert set(via_table) == set(via_expr)
    for k in via_table:
        assert abs(via_table[k] - via_expr[k]) < 1e-12
    # empty model: every doc scores sigmoid(0)
    neutral = docs.select(trained_score_expr("text", {}).alias("s")).collect()
    assert [r["s"] for r in neutral] == [0.5] * 4


def test_trained_score_expr_plan_is_shuffle_free(spark):
    """The streaming-tick scoring stage must be map-only: no Exchange, no
    aggregate — the property that lets it ride an append-mode micro-batch
    without state."""
    from autonomous_orchestrator_ai_spark.operators.classify import (
        trained_score_expr,
    )

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    scored = docs.select(
        "doc_id", trained_score_expr("text", {0: 0.5}).alias("s")
    )
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Aggregate" not in plan


def test_bucket_past_int_range_fails_loudly(spark):
    """The cached design matrix narrows ``bucket`` to int: a bucket id past
    2^31-1 must raise (ANSI cast overflow), not wrap to a negative id and
    train the wrong weights."""
    from pyspark.errors import ArithmeticException

    feats = spark.createDataFrame(
        [(0, INTERCEPT_BUCKET, 1.0), (0, 2**31, 0.5)], _FEAT_SCHEMA
    )
    labels = spark.createDataFrame([(0, 1.0)], ["doc_id", "y"])
    with pytest.raises(ArithmeticException, match="CAST_OVERFLOW"):
        train_logistic_gd(feats, labels, rounds=1)


def test_trained_score_expr_py4j_traffic_is_independent_of_model_size(
    spark, monkeypatch
):
    """The model constant is parsed from SQL text in one call, so building
    the scoring Column issues the same py4j commands for a TRAIN_BUCKETS
    model as for a 16-bucket one (``F.lit(list)`` costs ~37k commands at
    4,096 buckets: one ``lit()`` per element)."""
    from autonomous_orchestrator_ai_spark.operators.classify import (
        TRAIN_BUCKETS,
        trained_score_expr,
    )

    import threading

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []
    caller = threading.get_ident()

    def counting_send(*args, **kwargs):
        # only this thread's commands: py4j's FinalizerWorker thread sends
        # object-detach commands for earlier garbage through the same
        # client at any moment, which made the two counts race
        if threading.get_ident() == caller:
            sent.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting_send)

    def commands(n_weights: int) -> int:
        weights = {b: (b % 7 - 3) / 11.0 for b in range(n_weights)}
        sent.clear()
        trained_score_expr("text", weights)
        return len(sent)

    commands(16)  # warm the JVM-side function lookups
    small = commands(16)
    assert small > 0
    assert commands(TRAIN_BUCKETS) == small
