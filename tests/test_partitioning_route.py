"""The exploding-join pin: the join input is always hash-repartitioned at
``spark.sql.shuffle.partitions`` (the measured-best behavior — an A/B that
let AQE coalesce small inputs at sf0.1 ran 0.77x). Also the footer row count
the LSH sizing reads, which must match ``count()``."""

from __future__ import annotations

from autonomous_orchestrator_ai_spark.operators.partitioning import (
    repartition_for_exploding_join,
)
from autonomous_orchestrator_ai_spark.plans.registry import (
    table,
    table_row_count,
)

SF = "/root/testdata/sf0.001"


def _pinned(df) -> bool:
    # the explicit-count repartition survives as RepartitionByExpression
    # [keys], N in the optimized logical plan
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "RepartitionByExpression" in plan


def test_default_pins(spark):
    li = table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    out = repartition_for_exploding_join(li, "l_orderkey")
    assert _pinned(out)
    assert out.rdd.getNumPartitions() == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_table_row_count_matches_count(spark, tmp_path):
    for name in ("embeddings", "documents", "lineitem"):
        assert table_row_count(SF, name) == table(spark, SF, name).count()
    # a hive-partitioned layout keeps its part files under k=v/ directories
    li = table(spark, SF, "lineitem").select("l_orderkey", "l_linenumber")
    li.write.partitionBy("l_linenumber").parquet(str(tmp_path / "parted.parquet"))
    parted = str(tmp_path)
    assert table_row_count(parted, "parted") == table(spark, parted, "parted").count()
