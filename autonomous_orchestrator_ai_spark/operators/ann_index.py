"""Persisted ANN index tables — the "build once, probe cheaply" shape that
makes LSH/IVF usable as a serving index rather than a per-query plan.

``build_lsh_index`` materializes the corpus's multi-table LSH buckets as a
parquet table PARTITIONED BY (table_id, bucket): one directory per bucket.
``query_lsh_index`` probes it with bucket-literal filters, so the scan is
partition-PRUNED — a probe touches n_tables × (1 + n_planes) directories
out of n_tables × 2^n_planes, never the whole index. At 100 TB this is the
difference between an ANN lookup reading ~(probes/buckets) of the index
and re-hashing the corpus per query; index build cost amortizes over every
subsequent query, and the bucketing column layout is exactly what an
object store serves well (each partition a few large parquet files).

The index schema carries the vector alongside the id so re-ranking is a
local read of the probed partitions — no join back to the corpus table.

Same hash family as ``operators.similarity`` (seeded Gaussian hyperplanes,
sign-bit buckets), so an index built here returns the same candidates the
inline ``lsh_bucketed_topk`` would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.partitioned_index import (
    PartitionedIndex,
)
from autonomous_orchestrator_ai_spark.operators.partitioning import (
    ensure_min_parallelism,
)
from autonomous_orchestrator_ai_spark.operators.similarity import (
    _as_double_array,
    hyperplanes,
    signbit_buckets,
)


def _planes(dim: int, n_planes: int, n_tables: int, seed: int):
    return [hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]


#: On-disk layout: entries PARTITIONED BY (table_id, bucket, __batch) with
#: the ``_lsh_index_manifest`` / ``_lsh_index_meta`` underscore dirs beside
#: them (operators/partitioned_index.py). The meta carries the hash family:
#: appends/queries with mismatched parameters would otherwise mix
#: incompatible bucketings into one layout and silently tank recall.
LAYOUT = PartitionedIndex("lsh", ("table_id", "bucket"))
_META_KEYS = ("n_planes", "n_tables", "dim", "seed")


def _check_meta(spark: SparkSession, path: str, params: dict) -> None:
    stored = LAYOUT.read_meta(spark, path)
    if stored is None:  # pre-metadata index: nothing to check
        return
    mismatched = {
        k: (stored.get(k), params[k])
        for k in _META_KEYS
        if stored.get(k) is not None and int(stored[k]) != params[k]
    }
    if mismatched:
        raise ValueError(
            f"LSH hash-family mismatch vs index at {path}: {mismatched} "
            "(stored, requested) — mixing families corrupts recall"
        )


def read_lsh_manifest(spark: SparkSession, path: str) -> DataFrame | None:
    """The LSH index's bucket manifest: (table_id, bucket, n_rows,
    __batch)."""
    return LAYOUT.read_manifest(spark, path)


def _index_rows(
    vectors: DataFrame,
    n_planes: int,
    n_tables: int,
    dim: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared bucketing projection for build and append — ONE source of
    truth for the layout, so batch-built and incrementally-appended
    indexes can never drift. One scan: every table's bucket comes from a
    single fused expression (signbit_buckets) + posexplode."""
    all_planes = _planes(dim, n_planes, n_tables, seed)
    return ensure_min_parallelism(vectors).select(
        F.col(id_col).alias("neighbor_id"),
        _as_double_array(vec_col).alias("vec"),
        F.posexplode(signbit_buckets(_as_double_array(vec_col), all_planes)).alias(
            "table_id", "bucket"
        ),
    )


def build_lsh_index(
    corpus: DataFrame,
    path: str,
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the LSH bucket index at ``path``, partitioned by
    (table_id, bucket, __batch). One corpus scan: every table's bucket
    comes from a single fused expression (signbit_buckets) + posexplode.
    The corpus is replicated n_tables× — the standard LSH space/recall
    trade. The hash-family parameters are persisted beside the data and
    validated by append/query.

    Size ``n_planes`` to the corpus with ``similarity.auto_planes(n)``:
    a plane count that doesn't grow with n leaves expected bucket size
    n/2^planes growing linearly, so every probe's candidate set — and
    any self-join over the index — scales with the corpus instead of
    staying constant (measured consequences in PERF.md round 5 late).
    The default of 4 matches the pinned oracle configuration at test
    scales, not a production corpus."""
    LAYOUT.build(
        _index_rows(corpus, n_planes, n_tables, dim, seed, id_col, vec_col),
        path,
        {"n_planes": n_planes, "n_tables": n_tables, "dim": dim, "seed": seed},
    )


def load_lsh_index(spark: SparkSession, path: str) -> DataFrame:
    """One-time handle for a ``build_lsh_index`` table, for SERVING:
    pass the result to ``query_lsh_index(index_df=...)`` so repeated
    probes skip partition DISCOVERY. Discovery — listing every
    table_id=/bucket= directory and inferring the layout — is the
    dominant probe cost once the index is wide: measured at sf10 (200k
    vectors, 12 auto planes → 12,456 bucket directories on local FS)
    discovery is ~35 s while the pruned probe read itself is ~0.4 s.
    A long-lived server loads once and probes thousands of times; a
    metastore-cataloged index gets the same effect from the catalog.
    After ``append_to_lsh_index``, reload — a cached handle's file
    listing will not see new ``__batch`` directories."""
    return spark.read.parquet(path)


def query_lsh_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_bits: int = 1,
    exclude_self: bool = True,
    index_df: DataFrame | None = None,
) -> DataFrame:
    """Probe a ``build_lsh_index`` table: compute each query's probe
    buckets, then read ONLY those (table_id, bucket) partitions via an
    IN-list filter on the partition columns (partition pruning — check
    ``.explain`` for ``PartitionFilters``), exact-cosine re-rank inside.

    The probe set is collected driver-side (n_queries × n_tables ×
    (1+n_planes) tiny rows — for a serving path that is the point: the
    index read is driven by literals, so the scan prunes statically).

    ``index_df``: a handle from ``load_lsh_index`` — long-lived servers
    pass this so repeated probes share one resolved file listing.
    Omitted, a COLD probe resolves the probed buckets' paths from the
    bucket manifest written at build/append time and reads only those
    directories — no index-tree discovery at all (pre-manifest indexes
    fall back to a full listing, ~30-35 s at 12.5k partitions vs ~0.4 s
    for the pruned read; see load_lsh_index)."""
    _check_meta(
        spark,
        path,
        {"n_planes": n_planes, "n_tables": n_tables, "dim": dim, "seed": seed},
    )
    all_planes = _planes(dim, n_planes, n_tables, seed)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double_array(vec_col).alias("__qv"),
        F.posexplode(signbit_buckets(_as_double_array(vec_col), all_planes)).alias(
            "table_id", "bucket"
        ),
    )
    if multiprobe_bits >= 1:
        probe_arr = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(2**p).cast("bigint"))
                for p in range(n_planes)
            ],
        )
        q = q.select(
            "query_id", "__qv", "table_id", F.explode(probe_arr).alias("bucket")
        )
    probe_keys = {
        (r.table_id, r.bucket)
        for r in q.select("table_id", "bucket").distinct().collect()
    }
    return LAYOUT.query(spark, path, q, probe_keys, k, exclude_self, index_df)


def append_to_lsh_index(
    new_vectors: DataFrame,
    path: str,
    batch_id: int,
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: bucket a batch of NEW vectors with
    the same (seeded) hash family and write them into the partitioned
    index under ``__batch=batch_id`` — no rebuild, no read of existing
    data. The write is a dynamic partition overwrite of exactly this
    batch's (table_id, bucket, batch) partitions, so REPLAYING a batch
    (foreachBatch is at-least-once — pass the epoch id as ``batch_id``)
    rewrites the same partitions to the same content instead of
    duplicating entries; other batches' partitions are untouched.
    Hash-family parameters are validated against the index metadata
    written at build time — appending under a different family would
    silently corrupt recall. Compaction of accumulated small files is
    ``sources.writers.compact_parquet``'s job, per partition."""
    _check_meta(
        new_vectors.sparkSession,
        path,
        {"n_planes": n_planes, "n_tables": n_tables, "dim": dim, "seed": seed},
    )
    LAYOUT.append(
        _index_rows(new_vectors, n_planes, n_tables, dim, seed, id_col, vec_col),
        path,
        batch_id,
    )
