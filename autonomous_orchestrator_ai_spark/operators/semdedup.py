"""SemDeDup-style semantic deduplication: drop embeddings that have a
higher-priority near-identical neighbor (cosine >= threshold) within a
block, keeping one representative per epsilon-ball.

Blocking is the scale lever: cosine comparisons only happen WITHIN a
block, so the self-join is per-block, never all-pairs. Any low-cardinality
assignment works — a label column, an IVF/k-means cluster id
(``operators.ivf.kmeans_sample`` + assignment, the SemDeDup paper's
choice), or an LSH sign bucket (``operators.similarity.signbit_buckets``).
At 100 TB the block column is what the shuffle hashes on, and per-block
sizes bound the quadratic term — pick k so blocks stay ~1e4 rows.

The drop rule is the one-pass variant: x is dropped iff SOME lower-id
neighbor y (dropped or not) has cosine(x, y) >= threshold. That
over-drops chains slightly versus the sequential-greedy rule but is fully
set-based (no iteration), deterministic, and exactly SQL-expressible —
the iterative exact variant is ``operators.graph.connected_components``
over the pair graph, as used by ``near_dup_survivors``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.partitioning import (
    ensure_min_parallelism,
)
from autonomous_orchestrator_ai_spark.operators.similarity import (
    _as_double_array,
    dot,
    norm,
)

__all__ = ["semantic_dedup_pairs", "semantic_dedup"]


def semantic_dedup_pairs(
    df: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(block, id_a < id_b, cosine_sim) pairs above threshold, joined only
    within ``block_col``."""
    # a small parquet scan arrives as one partition; the per-block cosine
    # join is CPU-bound, so spread it before the self-join fans out
    e = ensure_min_parallelism(df).select(
        F.col(block_col).alias("__blk"),
        F.col(id_col),
        _as_double_array(vec_col).alias("__v"),
    ).withColumn("__n", norm(F.col("__v")))
    a = e.select(
        "__blk",
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = e.select(
        "__blk",
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    return (
        a.join(b, "__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        # norm hoisted to one fold per row; dot/(|a|*|b|) is bit-identical
        # to per-pair cosine()
        .withColumn(
            "__sim",
            dot(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb")),
        )
        .filter(F.col("__sim") >= threshold)
        .select(
            F.col("__blk").alias(block_col),
            "id_a",
            "id_b",
            F.round("__sim", 6).alias("cosine_sim"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Rows of ``df`` surviving semantic dedup: every row whose id is never
    the greater side of an above-threshold within-block pair. Left-anti
    join against the (deduplicated, so skew-light) dropped-id set."""
    dropped = (
        semantic_dedup_pairs(df, block_col, threshold, id_col, vec_col)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(dropped, id_col, "left_anti")
