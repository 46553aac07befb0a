"""Skew-handling + bucketing tests: semantics AND plan shape (the scale
claims are asserted against the physical plan, not just believed)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.skew import (
    salted_aggregate,
    with_salt,
    write_bucketed,
)


@pytest.fixture()
def skewed_df(spark):
    # one hot key (90% of rows) + a long tail
    hot = spark.range(900).select(
        F.lit("HOT").alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    tail = spark.range(100).select(
        F.concat(F.lit("key_"), F.col("id")).alias("k"), F.lit(1.0).alias("v")
    )
    return hot.unionByName(tail)


def test_salt_distribution(skewed_df):
    salted = with_salt(skewed_df, "k", 8)
    per_salt = salted.filter("k = 'HOT'").groupBy("__salt").count().collect()
    assert len(per_salt) == 8                    # hot key actually spreads
    assert max(r["count"] for r in per_salt) < 900 * 0.5


def test_salted_aggregate_matches_plain(skewed_df):
    plain = {
        r["k"]: (r["n"], round(r["t"], 6))
        for r in skewed_df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("t"))
        .collect()
    }
    salted = {
        r["k"]: (r["n"], round(r["t"], 6))
        for r in salted_aggregate(
            skewed_df,
            "k",
            {"cnt": F.count(F.lit(1)), "sum_v": F.sum("v")},
            {"n": F.sum("cnt"), "t": F.sum("sum_v")},
        ).collect()
    }
    assert plain == salted


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        left = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("a"))
        right = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("b"))
        write_bucketed(left, "bkt_left", "k", n_buckets=4, sort_by="k")
        write_bucketed(right, "bkt_right", "k", n_buckets=4, sort_by="k")

        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan            # co-located: shuffle-free
        assert joined.count() == 1000

        # control: the same join on plain (unbucketed) tables DOES shuffle
        left.write.mode("overwrite").saveAsTable("plain_left")
        right.write.mode("overwrite").saveAsTable("plain_right")
        control = spark.table("plain_left").join(spark.table("plain_right"), "k")
        control_plan = control._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in control_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        for t in ["bkt_left", "bkt_right", "plain_left", "plain_right"]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_revenue_plan(spark):
    """The registered bucketed_join_revenue demo: after write_bucketed on
    real sf0.001 lineitem/orders, the production join core must be a
    SortMergeJoin with ZERO Exchange nodes — the shuffle-elimination the
    100 TB story depends on."""
    import hashlib

    from autonomous_orchestrator_ai_spark.plans.layout_queries import (
        bucketed_join_on,
        bucketed_join_revenue,
    )

    sf_dir = "/root/testdata/sf0.001"
    # run the registered query once (writes the bucketed tables + verifies
    # it produces the aggregate); then inspect the bare join core's plan
    assert bucketed_join_revenue(spark, sf_dir).count() == 5
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    try:
        joined = bucketed_join_on(
            spark, f"bktdemo_lineitem_{tag}", f"bktdemo_orders_{tag}"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # and it's not an empty demo: the join carries real rows
        assert joined.count() > 1000
    finally:
        for t in (f"bktdemo_lineitem_{tag}", f"bktdemo_orders_{tag}"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_layout_ddl_reregister_fast_path(spark):
    """Cross-process idempotence (r7): once the bucketed files exist on
    disk, a session whose catalog lacks the tables must re-register them
    via DDL — no rewrite — and the re-registered tables must still join
    exchange-free with identical results. This is what keeps the setup
    fixture out of every timed bench pass."""
    from autonomous_orchestrator_ai_spark.plans.layout_queries import (
        _bucket_demo_names,
        _layout_on_disk,
        _bucket_demo_base,
        _bucketed_revenue_agg,
        bucketed_join_on,
        build_bucketed_layout,
    )

    sf_dir = "/root/testdata/sf0.001"
    li, od = _bucket_demo_names(sf_dir)
    try:
        build_bucketed_layout(spark, sf_dir)
        base = _bucket_demo_base(spark)
        assert _layout_on_disk(base, li) and _layout_on_disk(base, od)
        before = sorted(map(tuple, _bucketed_revenue_agg(spark, li, od).collect()))
        # simulate a fresh process: catalog forgets, files stay
        spark.sql(f"DROP TABLE {li}")
        spark.sql(f"DROP TABLE {od}")
        assert _layout_on_disk(base, li)  # DROP TABLE on external keeps files
        build_bucketed_layout(spark, sf_dir)  # must take the DDL path
        joined = bucketed_join_on(spark, li, od)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Exchange" not in plan
        after = sorted(map(tuple, _bucketed_revenue_agg(spark, li, od).collect()))
        assert before == after
    finally:
        for t in (li, od):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_aqe_skew_join_splits_hot_partition(spark):
    """When AQE suffices vs when salting is required — the guidance a
    100x-scale user needs, asserted on a live plan:

    - SHUFFLE JOINS with a skewed key: AQE's skew-join splits the
      oversized partition at runtime (SortMergeJoin prints skew=true) —
      no manual salting needed, provided the join is a plain SMJ and the
      thresholds catch the partition.
    - AGGREGATIONS with a skewed key: AQE has no skew rewrite for
      groupBy — a hot group still lands on one reducer. That is what
      operators.skew.salted_aggregate is for (two-phase partial/final).
    - Joins where the skewed side must stay co-partitioned for a later
      stage: splitting breaks the partitioning contract, so AQE skips it.
    """
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        # test-scale thresholds: flag a partition as skewed at >64KB and
        # 2x the median, split toward 32KB targets
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "65536",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        # one hot key carrying wide payloads (~6MB post-shuffle) + a tail
        hot = spark.range(30000).select(
            F.lit("HOT").alias("k"),
            F.concat(F.lit("p"), F.col("id")).alias("payload"),
            F.repeat(F.lit("x"), 200).alias("pad"),
        )
        tail = spark.range(200).select(
            F.concat(F.lit("key_"), F.col("id")).alias("k"),
            F.lit("t").alias("payload"),
            F.lit("x").alias("pad"),
        )
        left = hot.unionByName(tail)
        right = spark.createDataFrame(
            [("HOT", "hot-dim")]
            + [(f"key_{i}", f"dim_{i}") for i in range(200)],
            ["k", "label"],
        )

        joined = left.join(right, "k")
        # execute THIS dataframe (not a derived count query) so its own
        # adaptive plan is finalized with runtime stats
        n = len(joined.collect())
        assert n == 30000 + 200
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE did not split the hot partition:\n{plan[:2000]}"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_write_bucketed_refuses_foreign_directory(spark, tmp_path):
    """ADVICE r4 (medium): the pre-write location clear must not destroy
    a directory holding data this helper didn't write."""
    import pytest

    df = spark.range(10).select(F.col("id").alias("k"))

    foreign = tmp_path / "precious"
    foreign.mkdir()
    (foreign / "notes.txt").write_text("user data, not a table")
    with pytest.raises(ValueError, match="refusing to clear"):
        write_bucketed(df, "bkt_guard_t1", "k", n_buckets=2, path=str(foreign))
    assert (foreign / "notes.txt").exists()  # untouched

    # an orphaned TABLE location (only part/_SUCCESS files) still clears
    # without the flag — the cross-session idempotence contract
    orphan = tmp_path / "orphan"
    write_bucketed(df, "bkt_guard_t2", "k", n_buckets=2, path=str(orphan))
    spark.sql("DROP TABLE bkt_guard_t2")  # leaves files behind (external)
    write_bucketed(df, "bkt_guard_t2", "k", n_buckets=2, path=str(orphan))
    try:
        assert spark.table("bkt_guard_t2").count() == 10
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_guard_t2")
