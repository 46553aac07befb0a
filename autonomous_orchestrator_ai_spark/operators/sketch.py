"""Sketch operators (approximate structures for 100 TB cardinalities).

- Bloom filter: membership pre-filter for semi-joins against huge build
  sides. Each partition sets bits in a local bitmap on its Arrow batches
  and the driver ORs the bitmaps, so the build is one pass in fixed
  memory, mergeable across partitions.

These are rows-only/pytest-verified (no cross-engine oracle exists for
sketch binaries by construction); tests assert the error bounds against
exact answers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _bloom_params(expected_items: int, fpp: float) -> tuple[int, int]:
    import math

    m = max(64, int(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
    k = max(1, round(m / expected_items * math.log(2)))
    return m, min(k, 8)


def build_bloom_filter(
    build: DataFrame, key: str, expected_items: int = 1_000_000, fpp: float = 0.01
) -> tuple[bytes, int, int]:
    """Distributed Bloom build: each partition sets bits in a local numpy
    bitmap (mapInPandas), the driver ORs the per-partition bitmaps.
    Memory: m/8 bytes per partition; network: one bitmap per partition.
    (PySpark 4 exposes no public bloom aggregate — this is the classic
    construction on Arrow batches.)"""
    import numpy as np
    import pandas as pd

    m, k = _bloom_params(expected_items, fpp)

    def build_partition(batches):
        bits = np.zeros(m // 8 + 1, dtype=np.uint8)
        seen = False
        for pdf in batches:
            seen = True
            for seed in range(k):
                # vectorized per-seed positions over the whole Arrow batch
                h = pd.util.hash_pandas_object(pdf[key], index=False).to_numpy(np.uint64)
                pos = (h ^ np.uint64((0x9E3779B97F4A7C15 * (seed + 1)) & 0xFFFFFFFFFFFFFFFF)) % np.uint64(m)
                np.bitwise_or.at(bits, pos // 8, (1 << (pos % 8)).astype(np.uint8))
        if seen:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    import pyspark.sql.types as T

    parts = build.select(key).mapInPandas(build_partition, T.StructType([
        T.StructField("bits", T.BinaryType())
    ])).collect()
    merged = np.zeros(m // 8 + 1, dtype=np.uint8)
    for row in parts:
        merged |= np.frombuffer(row["bits"], dtype=np.uint8)
    return merged.tobytes(), m, k


def bloom_filter_semi_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    expected_items: int = 1_000_000,
    fpp: float = 0.01,
) -> DataFrame:
    """Membership pre-filter: Bloom over ``build[key]`` probes ``probe``
    BEFORE any join/shuffle. False positives pass (callers verify with a
    real join when exactness matters); true members always pass — at scale
    this cuts the probe-side shuffle by the miss rate. The bitmap travels
    in the closure (equivalent to a broadcast var at these sizes)."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.types as T

    bitmap_bytes, m, k = build_bloom_filter(build, key, expected_items, fpp)

    def probe_partition(batches):
        bits = np.frombuffer(bitmap_bytes, dtype=np.uint8)
        for pdf in batches:
            h = pd.util.hash_pandas_object(pdf[key], index=False).to_numpy(np.uint64)
            keep = np.ones(len(pdf), dtype=bool)
            for seed in range(k):
                pos = (h ^ np.uint64((0x9E3779B97F4A7C15 * (seed + 1)) & 0xFFFFFFFFFFFFFFFF)) % np.uint64(m)
                keep &= (bits[pos // 8] & (1 << (pos % 8)).astype(np.uint8)) != 0
            yield pdf[keep]

    return probe.mapInPandas(probe_partition, probe.schema)
