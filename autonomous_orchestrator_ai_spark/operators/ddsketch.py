"""DDSketch — a mergeable quantile sketch with a relative-error guarantee
(Masson, Rim, Lee, "DDSketch: a fast and fully-mergeable quantile sketch
with relative-error guarantees", VLDB 2019), expressed Spark-first.

The insight that makes this THE distributed-quantile sketch: the sketch is
nothing but a histogram over geometric buckets ``bucket = ceil(log_γ |v|)``
with ``γ = (1+α)/(1−α)``. In Spark that is a plain ``groupBy(bucket).
count()`` — map-side combined, one shuffle of at most a few thousand rows
per group regardless of corpus size — and MERGE is bucket-wise addition,
i.e. another groupBy-sum. No custom state, no driver bottleneck, no
accumulator protocol: the whole sketch lifecycle (build / merge / query)
stays inside Catalyst. Quantile answers carry the paper's guarantee
``|est − x_q| ≤ α·|x_q|`` because every value in a bucket is within a
(1±α) band of the bucket's log-midpoint ``2·γ^b/(γ+1)``.

Memory bound: values in [1e-9, 1e9] at α=0.01 span ~2,100 buckets per
group — that is the sketch's whole size at 100 TB too (the paper's
collapsing variant caps it harder; unnecessary here since bucket count is
log-bounded by the value range).

Signed values are handled the standard way: three channels — negative
values bucketed over |v| (sign −1), zeros (sign 0), positives (sign +1) —
totally ordered by ``(sign, sign·bucket)``, so one cumulative-count walk
answers any quantile over the full real line.

Determinism contract (what makes the sketch ORACLE-EXACT, unlike most
sketch implementations): the bucket index rounds ``ln v / ln γ`` to 9 dp
before ``ceil``. Both engines compute libm logs that agree to ~1 ulp
(≈1e-16 relative), so the 9 dp snap makes the ceil decision identical
across Spark and DuckDB for every representable input — the same
derandomization move the frozen-ANN oracles use, applied to float
boundary noise instead of RNG.

Beyond-reference surface: the reference system has no sketch/quantile
machinery; this backs SURVEY.md's training-data toolkit (latency/price
distribution profiling at corpus scale without exact sorts).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: decimal places of ``ddsketch_quantiles``' estimates
ROUND_DP = 4


def dd_gamma(relative_accuracy: float) -> float:
    """γ = (1+α)/(1−α); α must sit in (0, 1)."""
    if not 0.0 < relative_accuracy < 1.0:
        raise ValueError(f"relative_accuracy must be in (0,1): {relative_accuracy}")
    return (1.0 + relative_accuracy) / (1.0 - relative_accuracy)


def _bucket_expr(value, ln_gamma: float):
    """ceil(round(ln|v| / ln γ, 9)) — the 9 dp snap is the cross-engine
    determinism contract (module docstring)."""
    return F.ceil(F.round(F.log(F.abs(value)) / F.lit(ln_gamma), 9))


def ddsketch_build(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    relative_accuracy: float = 0.01,
) -> DataFrame:
    """Build the sketch: (group_cols..., sign, bucket, cnt).

    One map-side-combined aggregation; the output IS the mergeable sketch
    (bucket-wise counts). NULL values are dropped (SQL aggregate
    semantics); zeros and negatives go to their own channels."""
    gamma = dd_gamma(relative_accuracy)
    ln_gamma = math.log(gamma)
    v = F.col(value_col)
    sign = F.when(v > 0, F.lit(1)).when(v < 0, F.lit(-1)).otherwise(F.lit(0))
    bucket = F.when(
        v != 0, _bucket_expr(v, ln_gamma)
    ).otherwise(F.lit(0)).cast("long")
    return (
        df.where(v.isNotNull())
        .select(*group_cols, sign.alias("sign"), bucket.alias("bucket"))
        .groupBy(*group_cols, "sign", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def ddsketch_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with the same α and grouping: union + sum.
    DDSketch's headline property — merge is lossless and order-free, so
    per-shard / per-day sketches roll up without touching raw data."""
    if not sketches:
        raise ValueError("no sketches to merge")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    keys = [c for c in out.columns if c != "cnt"]
    return out.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def ddsketch_quantiles(
    sketch: DataFrame,
    quantiles: Sequence[float],
    group_cols: Sequence[str] = (),
    relative_accuracy: float = 0.01,
) -> DataFrame:
    """Answer quantiles from a sketch: (group_cols..., q, est).

    Rank rule (paper §2.1, type-1): target rank = floor(q·(n−1)) + 1 in
    the total order (sign asc, sign·bucket asc); the answering bucket is
    the first whose cumulative count reaches it; the estimate is the
    bucket log-midpoint ``sign · 2γ^b/(γ+1)`` (0 for the zero channel).

    The cumulative walk is a window over the sketch rows — bounded by the
    bucket count (log of the value range), never the data. Per-group
    sketch rows all land in one window partition, which is exactly right:
    a sketch IS small.

    The estimate is rounded to ``ROUND_DP`` places for cross-engine hash
    stability (the registered oracles round the same way); absolute
    rounding swamps the α-relative guarantee for magnitudes near
    10^-ROUND_DP."""
    gamma = dd_gamma(relative_accuracy)
    gcols = list(group_cols)
    ord_key = (F.col("sign") * F.col("bucket")).alias("ord")
    w = (
        Window.partitionBy(*[F.col(c) for c in gcols])
        .orderBy(F.col("sign").asc(), F.col("ord").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy(*[F.col(c) for c in gcols])
    cum = (
        sketch.select(*gcols, "sign", "bucket", "cnt", ord_key)
        .withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(wn))
    )
    qs = F.explode(
        F.array(*[F.lit(float(q)) for q in quantiles])
    ).alias("q")
    ranked = cum.select(*gcols, "sign", "bucket", "cum", "n", qs).withColumn(
        "rank", F.floor(F.col("q") * (F.col("n") - 1)) + 1
    )
    wq = Window.partitionBy(*gcols, "q").orderBy(
        F.col("sign").asc(), (F.col("sign") * F.col("bucket")).asc()
    )
    hit = (
        ranked.where(F.col("cum") >= F.col("rank"))
        .withColumn("__rn", F.row_number().over(wq))
        .where(F.col("__rn") == 1)
        .select(*gcols, "q", "sign", "bucket")
    )
    est = (
        F.when(F.col("sign") == 0, F.lit(0.0))
        .otherwise(
            F.col("sign")
            * 2.0
            * F.pow(F.lit(gamma), F.col("bucket"))
            / F.lit(gamma + 1.0)
        )
    )
    return hit.select(*gcols, "q", F.round(est, ROUND_DP).alias("est"))
