"""Data-layout operators: Z-order (Morton-curve) multi-dimensional
clustering for scan pruning.

A 100 TB table is only as fast as what you can SKIP. Partitioning prunes
on the partition column; sorting prunes parquet row groups on the sort
column — but only one. Z-ordering interleaves the bits of several columns
into one sort key so that files/row groups stay "cubes" in N-dimensional
space: their min/max footer statistics are narrow on EVERY participating
column, and a predicate on any subset of them skips most files. (Same
design as Delta Lake's OPTIMIZE ZORDER BY; here it's pure DataFrame ops —
scale each column to a fixed-width integer and interleave bits with
built-in shift/mask expressions; a writer range-repartitions and sorts on
the key.)

Everything is expression-level (whole-stage codegen): the only extra cost
over a plain sorted write is one scalar min/max aggregation for the bounds
and the interleave arithmetic per row. The bounds collect is two values
per column — at scale, read them from table statistics instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["column_bounds", "zorder_key"]


def column_bounds(df: DataFrame, cols: list[str]) -> list[tuple[float, float]]:
    """(min, max) per column, one aggregation job. The only driver-side
    data movement in the operator (2 scalars per column)."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    row = df.agg(*aggs).first()
    return [(float(row[f"__mn_{c}"]), float(row[f"__mx_{c}"])) for c in cols]


def zorder_key(
    cols: list[Column | str],
    bounds: list[tuple[float, float]],
    bits: int = 12,
) -> Column:
    """Morton key: each column is min-max scaled to ``bits`` bits (floor,
    clamped to [0, 2^bits-1]), then bit ``b`` of column ``i`` lands at key
    position ``b*n_cols + i``. Pure bigint shift/mask arithmetic — stays in
    codegen, and is engine-portable (the DuckDB oracle recomputes it
    bit-for-bit). ``bits * len(cols)`` must stay < 63."""
    n = len(cols)
    if bits * n >= 63:
        raise ValueError("zorder_key: bits * n_cols must fit in a signed 64-bit key")
    max_cell = (1 << bits) - 1
    scaled: list[Column] = []
    for c, (mn, mx) in zip(cols, bounds):
        c = F.col(c) if isinstance(c, str) else c
        if mx == mn:
            scaled.append(F.lit(0).cast("bigint"))
            continue
        s = F.floor(
            (c.cast("double") - F.lit(mn)) * F.lit(max_cell) / F.lit(mx - mn)
        ).cast("bigint")
        scaled.append(F.least(F.greatest(s, F.lit(0)), F.lit(max_cell)))
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, s in enumerate(scaled):
            bit = F.shiftright(s, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z

