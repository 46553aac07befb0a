"""Table profiling: one-pass per-column statistics (the ANALYZE/data-audit
operator every curation pipeline runs before trusting a new drop of data).

One aggregation job computes every column's null count, distinct count,
and min/max; a ``stack`` unpivot turns the single wide row into one tidy
row per column. The scan happens once regardless of column count.

Exact distinct counts use Spark's multi-distinct rewrite (an Expand that
replicates each input row once per distinct aggregate — still one scan,
but shuffle volume multiplies by the column count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["profile_columns", "numeric_histogram"]


def profile_columns(
    df: DataFrame,
    cols: list[str] | None = None,
) -> DataFrame:
    """(column, n_rows, n_nulls, n_distinct, min_value, max_value) per
    column, from ONE pass over ``df``. min/max are computed on the native
    type (so numeric/temporal ordering is correct) and cast to string only
    for the tidy output. NULL-only columns yield NULL min/max; distinct
    counts ignore NULLs (COUNT DISTINCT semantics on both engines)."""
    cols = list(cols or df.columns)
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"__nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', __nn_{c}, __nd_{c}, __mn_{c}, __mx_{c}" for c in cols
    )
    return one.selectExpr(
        "__rows as n_rows",
        f"stack({len(cols)}, {stacked}) as "
        "(column, n_nulls, n_distinct, min_value, max_value)",
    ).select("column", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")


def numeric_histogram(
    df: DataFrame, col: str, n_bins: int = 20
) -> DataFrame:
    """Equi-width histogram over ``col``: (bin, lo, hi, n_rows). The
    [min, max] bounds are ONE aggregated row broadcast into the binning
    pass — two scans total, both fully partial-aggregated; no shuffle
    bigger than n_bins rows leaves the map side.

    Bin math is a single multiply-then-divide (``(v - mn) * n / (mx -
    mn)``) so re-computations on other engines agree bit-for-bit; the max
    value is clamped into the last bin. Degenerate min == max collapses to
    one bin."""
    if n_bins <= 0:
        raise ValueError("n_bins must be positive")
    v = F.col(col).cast("double")
    bounds = df.agg(F.min(v).alias("__mn"), F.max(v).alias("__mx"))
    mn, mx = F.col("__mn"), F.col("__mx")
    bin_ = (
        F.when(mx == mn, F.lit(0))
        .otherwise(
            F.least(F.floor((v - mn) * n_bins / (mx - mn)), F.lit(n_bins - 1))
        )
        .cast("bigint")
    )
    binned = (
        df.filter(v.isNotNull())
        .crossJoin(F.broadcast(bounds))
        .groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # mn/mx are constant broadcast columns; min() just carries them
            # through the aggregation without a second join.
            F.min(mn).alias("__mn"),
            F.min(mx).alias("__mx"),
        )
    )
    width = (F.col("__mx") - F.col("__mn")) / n_bins
    return binned.select(
        "bin",
        F.round(F.col("__mn") + F.col("bin") * width, 6).alias("bin_lo"),
        F.round(F.col("__mn") + (F.col("bin") + 1) * width, 6).alias("bin_hi"),
        "n_rows",
    )


def k_anonymity_report(
    df: DataFrame,
    quasi_identifiers: list[str],
) -> DataFrame:
    """Re-identification risk profile over a quasi-identifier combination
    (Sweeney 2002, k-anonymity): rows whose QI equivalence class has
    fewer than k members are linkable to at most k-1 others.

    One row per k level in (2, 5, 10, 20): (k, n_classes_below,
    n_rows_below, pct_rows_below)
    — how many equivalence classes (and what share of rows) fail
    k-anonymity at that threshold. The governance companion to
    curation.redact_pii: redaction handles direct identifiers, this
    measures the INDIRECT ones.

    Scale shape: one map-side-combined groupBy over the QI tuple builds
    the class-size table (bounded by the QI domain product, not row
    count); each k level is then an aggregate over that bounded table —
    the k-level loop multiplies work on class counts, never on data."""
    classes = df.groupBy(*quasi_identifiers).agg(
        F.count(F.lit(1)).alias("class_size")
    )
    per_k = [
        classes.agg(
            F.lit(k).alias("k"),
            F.sum((F.col("class_size") < k).cast("bigint")).alias(
                "n_classes_below"
            ),
            F.sum(
                F.when(F.col("class_size") < k, F.col("class_size")).otherwise(
                    0
                )
            ).cast("bigint").alias("n_rows_below"),
        )
        for k in (2, 5, 10, 20)
    ]
    out = per_k[0]
    for frame in per_k[1:]:
        out = out.unionByName(frame)
    total = classes.agg(F.sum("class_size").alias("__total"))
    return (
        out.crossJoin(F.broadcast(total))
        .withColumn(
            "pct_rows_below",
            F.round(F.col("n_rows_below") * 100.0 / F.col("__total"), 4),
        )
        .drop("__total")
    )
