"""Input-parallelism guard for CPU-bound per-row operators.

A parquet file is split at row-group granularity; a table written as a
single row group (the driver's testdata, any small-file ingest) scans as
ONE task, so every downstream per-row expression — regex tokenization,
shingle md5s, HOF folds over embedding arrays — runs on one core until
the first exchange. ``ensure_min_parallelism`` inserts one cheap
repartition (the inputs are small by definition when this triggers) so
the expensive map work uses the whole cluster.

At real scale this is a no-op: a 100 TB table scans as tens of thousands
of splits, which already exceeds ``defaultParallelism``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition iff the plan currently yields fewer
    partitions than the cluster's default parallelism. Batch-only;
    streaming frames pass through untouched."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def repartition_for_exploding_join(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition ``df`` on ``keys`` at pinned cluster parallelism,
    the input of an EXPLODING join. Result-invariant — only the physical
    partitioning changes.

    AQE sizes post-shuffle partitions by the shuffle's INPUT bytes
    (``advisoryPartitionSizeInBytes`` / ``minPartitionSize``), which is
    the right call for ordinary operators but exactly wrong for a join
    whose output is a fan-out of its input with real per-row compute
    (equi-self-joins that emit candidate PAIRS, LSH bucket joins that
    cosine-score every collision): a few MB of input coalesces to 2-3
    partitions and the pair explosion + scoring then runs on 2-3 cores
    of the whole cluster (measured at sf0.1: the lineitem co-purchase
    self-join and the LSH screen's scoring join both landed on 3 tasks,
    5-8 s each on a 32-core host — guide §2.5's skew table, but induced
    by coalescing rather than data skew). The caller knows the output
    explodes; the optimizer cannot. Repartitioning the join input by
    the join key with an EXPLICIT count (``repartition(n, key)``, a
    REPARTITION_BY_NUM shuffle AQE never coalesces) pins the join's
    reduce side to cluster parallelism. The pin is unconditional: an
    interleaved A/B of letting AQE coalesce small inputs measured the
    affected queries 0.77x slower at sf0.1, because even a sub-MB join
    input carries a pair explosion whose compute wants every core.

    The count is the session's configured ``spark.sql.shuffle.partitions``
    — cores-derived locally (session.py sizes it from $SPARK_GRAFT_CPUS)
    and the deployment's own 2-3x-total-cores setting on a cluster, so
    the value scales with the cluster, not with this host."""
    return df.repartition(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")), *keys
    )
