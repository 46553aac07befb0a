"""DDSketch (operators/ddsketch.py): merge identity, the relative-error
guarantee on adversarial distributions, signed/zero channels, and the
registered contract's booleans."""

from __future__ import annotations

import numpy as np
import pytest

from autonomous_orchestrator_ai_spark.operators import ddsketch
from autonomous_orchestrator_ai_spark.operators.ddsketch import (
    dd_gamma,
    ddsketch_build,
    ddsketch_merge,
    ddsketch_quantiles,
)
from autonomous_orchestrator_ai_spark.plans.registry import QUERIES, load_all

ALPHA = 0.01


def _quantile_type1(vals: np.ndarray, q: float) -> float:
    s = np.sort(vals)
    return float(s[int(np.floor(q * (len(s) - 1)))])


def _build_df(spark, vals):
    return spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], ["i", "v"]
    )


def test_gamma_validation():
    with pytest.raises(ValueError):
        dd_gamma(0.0)
    with pytest.raises(ValueError):
        dd_gamma(1.0)
    assert dd_gamma(0.01) == pytest.approx(1.01 / 0.99)


def test_relative_error_guarantee_lognormal(spark, monkeypatch):
    # 12 places: absolute rounding stays far below α·|x| at these magnitudes
    monkeypatch.setattr(ddsketch, "ROUND_DP", 12)
    rng = np.random.default_rng(5)
    vals = np.exp(rng.normal(size=2000) * 3.0)  # 6 orders of magnitude
    df = _build_df(spark, vals)
    sk = ddsketch_build(df, "v", (), ALPHA)
    out = {
        r.q: r.est
        for r in ddsketch_quantiles(
            sk, [0.01, 0.25, 0.5, 0.9, 0.99], (), ALPHA
        ).collect()
    }
    for q, est in out.items():
        exact = _quantile_type1(vals, q)
        assert abs(est - exact) <= ALPHA * abs(exact) * 1.001, (q, est, exact)


def test_signed_and_zero_channels(spark, monkeypatch):
    monkeypatch.setattr(ddsketch, "ROUND_DP", 12)
    rng = np.random.default_rng(9)
    vals = np.concatenate(
        [-np.exp(rng.normal(size=700)), np.zeros(100), np.exp(rng.normal(size=700))]
    )
    df = _build_df(spark, vals)
    sk = ddsketch_build(df, "v", (), ALPHA)
    out = {
        r.q: r.est
        for r in ddsketch_quantiles(
            sk, [0.05, 0.5, 0.95], (), ALPHA
        ).collect()
    }
    for q, est in out.items():
        exact = _quantile_type1(vals, q)
        if exact == 0.0:
            assert est == 0.0
        else:
            assert abs(est - exact) <= ALPHA * abs(exact) * 1.001, (q, est, exact)
    # median of a symmetric-ish mix sits near zero; sign must be consistent
    assert out[0.05] < 0 < out[0.95]


def test_merge_equals_whole(spark):
    rng = np.random.default_rng(3)
    vals = np.exp(rng.normal(size=1000))
    df = _build_df(spark, vals)
    whole = ddsketch_build(df, "v", (), ALPHA)
    halves = ddsketch_merge(
        ddsketch_build(df.where("i % 2 = 0"), "v", (), ALPHA),
        ddsketch_build(df.where("i % 2 = 1"), "v", (), ALPHA),
    )
    a = {(r.sign, r.bucket): r.cnt for r in whole.collect()}
    b = {(r.sign, r.bucket): r.cnt for r in halves.collect()}
    assert a == b


def test_merge_empty_raises():
    with pytest.raises(ValueError):
        ddsketch_merge()


def test_contract_query_all_within_tol(spark):
    load_all()
    rows = QUERIES["ddsketch_accuracy_contract"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows and all(r.within_tol for r in rows)
