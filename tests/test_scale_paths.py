"""Scale-path variants vs their exact baselines (VERDICT r2 items 2-3).

Two plans were flagged 'weak' because their scale-safe forms existed only
as docstring prose. Both now exist as runnable queries; these tests pin
the approximation/equivalence contract between each scale path and its
exact oracle-checked baseline.
"""

from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.plans import registry
from autonomous_orchestrator_ai_spark.plans.registry import table

SF = "/root/testdata/sf0.01"


def _q(name):
    registry.load_all()
    return registry.QUERIES[name]


class TestEquidepthApprox:
    def test_matches_exact_form_at_tolerance(self, spark):
        exact = {
            r.bucket: r
            for r in _q("value_equidepth_histogram")(spark, SF).collect()
        }
        approx = {
            r.bucket: r
            for r in _q("value_equidepth_histogram_approx")(spark, SF).collect()
        }
        n_total = sum(r.n_rows for r in exact.values())
        assert sum(r.n_rows for r in approx.values()) == n_total  # no row lost
        assert set(approx) == set(exact) == set(range(1, 21))
        target = n_total / 20
        # value range is shared; each approx bucket within 15% of depth
        for b in range(1, 21):
            assert abs(approx[b].n_rows - target) <= 0.15 * target, (
                b,
                approx[b].n_rows,
                target,
            )
        # bucket bounds are monotone and track the exact quantile edges
        vals = sorted(r.v for r in table(spark, SF, "events")
                      .filter(F.col("value").isNotNull())
                      .select(F.col("value").cast("double").alias("v")).collect())
        spread = vals[-1] - vals[0]
        for b in range(1, 20):
            assert approx[b].hi <= approx[b + 1].lo
            assert abs(approx[b].hi - exact[b].hi) <= 0.05 * spread

    def test_no_global_sort_in_plan(self, spark):
        plan = (
            _q("value_equidepth_histogram_approx")(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the exact form's cost is a single-partition window sort; the
        # approx form must have no window and no global (non-partial) sort
        assert "Window" not in plan
        assert "Sort [v" not in plan


class TestSaltedDistinct:
    def test_sub_key_salt_distinct_is_exact(self, spark):
        """salt_by=user_id gives each user one salt partition, so per-salt
        COUNT(DISTINCT) partials must SUM to the plain global distinct."""
        out = {
            r.event_type: r
            for r in _q("salted_event_type_stats")(spark, SF).collect()
        }
        plain = {
            r.event_type: r
            for r in table(spark, SF, "events")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.count_distinct("user_id").alias("n_users"),
            )
            .collect()
        }
        assert set(out) == set(plain)
        for et, r in plain.items():
            assert out[et].n_events == r.n_events
            assert out[et].n_users == r.n_users

    def test_no_collect_set_in_plan(self, spark):
        plan = (
            _q("salted_event_type_stats")(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "collect_set" not in plan and "collect_list" not in plan


def test_k_anonymity_report_hand_computed(spark):
    from autonomous_orchestrator_ai_spark.operators.profiling import (
        k_anonymity_report,
    )

    # classes: (a,1)x1, (a,2)x3, (b,1)x5
    rows = [("a", 1)] + [("a", 2)] * 3 + [("b", 1)] * 5
    df = spark.createDataFrame(rows, "g string, q int")
    got = {r["k"]: (r["n_classes_below"], r["n_rows_below"],
                    r["pct_rows_below"])
           for r in k_anonymity_report(df, ["g", "q"]).collect()}
    assert got[2] == (1, 1, round(1 * 100.0 / 9, 4))
    assert got[5] == (2, 4, round(4 * 100.0 / 9, 4))
    assert got[10] == (3, 9, 100.0)
    assert got[20] == (3, 9, 100.0)
