"""Unit tests for corpus-curation operators (operators/curation.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.curation import (
    contamination_report,
    deterministic_sample,
    hex_threshold,
    pii_hit_counts,
    redact_pii,
    sample_predicate,
    stratified_sample,
    token_budget_pack,
    top_k_tokens,
)


@pytest.fixture(scope="module")
def keyed(spark):
    return spark.range(0, 2000).withColumnRenamed("id", "key")


class TestDeterministicSample:
    def test_rate_close_to_fraction(self, keyed):
        n = deterministic_sample(keyed, 0.25, "key").count()
        assert 0.20 * 2000 <= n <= 0.30 * 2000

    def test_deterministic_across_calls(self, keyed):
        a = {r.key for r in deterministic_sample(keyed, 0.3, "key").collect()}
        b = {r.key for r in deterministic_sample(keyed, 0.3, "key").collect()}
        assert a == b

    def test_monotone_in_fraction(self, keyed):
        """Same salt: the 20% sample is a subset of the 40% sample — lets a
        mix grow without resampling."""
        small = {r.key for r in deterministic_sample(keyed, 0.2, "key", "s").collect()}
        large = {r.key for r in deterministic_sample(keyed, 0.4, "key", "s").collect()}
        assert small <= large

    def test_salt_changes_subset(self, keyed):
        a = {r.key for r in deterministic_sample(keyed, 0.3, "key", "s1").collect()}
        b = {r.key for r in deterministic_sample(keyed, 0.3, "key", "s2").collect()}
        assert a != b

    def test_boundary_fractions(self, keyed):
        assert deterministic_sample(keyed, 1.0, "key").count() == 2000
        assert deterministic_sample(keyed, 0.0, "key").count() == 0

    def test_hex_threshold_values(self):
        assert hex_threshold(1.0) is None
        assert hex_threshold(0.0) == "0000"
        assert hex_threshold(0.5) == "8000"


class TestStratifiedSample:
    def test_per_stratum_rates(self, spark):
        df = spark.range(0, 3000).select(
            F.col("id").alias("key"),
            F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("src"),
        )
        out = stratified_sample(
            df, {"s0": 0.1, "s1": 0.5}, strata_col="src", key_col="key"
        )
        counts = {r.src: r.n for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()}
        assert "s2" not in counts  # unlisted stratum dropped
        assert 50 <= counts["s0"] <= 150  # ~100 of 1000
        assert 400 <= counts["s1"] <= 600  # ~500 of 1000

    def test_matches_global_predicate(self, spark):
        """A stratified sample at uniform rates == the global sample."""
        df = spark.range(0, 500).select(
            F.col("id").alias("key"),
            F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("src"),
        )
        strat = {
            r.key
            for r in stratified_sample(
                df, {"s0": 0.3, "s1": 0.3}, "src", "key", salt="x"
            ).collect()
        }
        plain = {
            r.key for r in df.filter(sample_predicate(0.3, "key", "x")).collect()
        }
        assert strat == plain


class TestTokenBudgetPack:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [
            Row(doc_id=i, src=f"s{i % 2}", text=" ".join(["w"] * (10 + i)))
            for i in range(40)
        ]
        return spark.createDataFrame(rows)

    def test_budget_respected(self, docs):
        packed = token_budget_pack(docs, 60, "text", "doc_id", strata_col="src")
        per_src = packed.groupBy("src").agg(F.sum("n_tokens").alias("t")).collect()
        assert per_src and all(r.t <= 60 for r in per_src)

    def test_maximal_under_order(self, docs):
        """The doc after the cut (in hash order) would overflow the budget."""
        packed = token_budget_pack(docs, 60, "text", "doc_id", strata_col="src")
        kept = packed.groupBy("src").agg(
            F.sum("n_tokens").alias("t"), F.count("*").alias("n")
        ).collect()
        # every source keeps at least one doc (smallest doc is 10 tokens)
        assert all(r.n >= 1 for r in kept)
        # rerunning with a larger budget keeps strictly more tokens
        bigger = token_budget_pack(docs, 200, "text", "doc_id", strata_col="src")
        bigger_t = dict(
            (r.src, r.t)
            for r in bigger.groupBy("src").agg(F.sum("n_tokens").alias("t")).collect()
        )
        for r in kept:
            assert bigger_t[r.src] > r.t

    def test_global_pack_without_strata(self, docs):
        packed = token_budget_pack(docs, 100, "text", "doc_id")
        total = packed.agg(F.sum("n_tokens").alias("t")).collect()[0].t
        assert total is not None and total <= 100


class TestTopKTokens:
    def test_counts_and_order(self, spark):
        df = spark.createDataFrame(
            [Row(text="a b a"), Row(text="b a"), Row(text="c"), Row(text="  ")]
        )
        out = top_k_tokens(df, 2, "text").collect()
        assert [(r.token, r.n) for r in out] == [("a", 3), ("b", 2)]

    def test_lowercases(self, spark):
        df = spark.createDataFrame([Row(text="Foo foo FOO")])
        out = top_k_tokens(df, 1, "text").collect()
        assert [(r.token, r.n) for r in out] == [("foo", 3)]


class TestContamination:
    @pytest.fixture(scope="class")
    def corpora(self, spark):
        train = spark.createDataFrame(
            [
                Row(doc_id=1, text="the quick brown fox jumps"),  # shares shingle
                Row(doc_id=2, text="entirely different words here now"),
                Row(doc_id=3, text="quick brown fox trailing tail"),  # shares
            ]
        )
        bench = spark.createDataFrame(
            [Row(doc_id=100, text="lazy dog quick brown fox")]
        )
        return train, bench

    def test_report_flags_overlaps(self, corpora):
        train, bench = corpora
        report = contamination_report(train, bench, "text", "doc_id", shingle_k=3)
        got = {r.doc_id: r.n_shared_shingles for r in report.collect()}
        assert set(got) == {1, 3}
        assert all(n >= 1 for n in got.values())


class TestPIIRedaction:
    def test_redacts_all_categories(self, spark):
        df = spark.createDataFrame(
            [
                Row(
                    text=(
                        "mail bob.smith+x@example.co.uk or call +1 (415) 555-0199; "
                        "host 10.0.12.7 stays up"
                    )
                )
            ]
        )
        out = df.select(redact_pii("text").alias("t")).collect()[0].t
        assert "<EMAIL>" in out and "<PHONE>" in out and "<IP>" in out
        assert "example.co.uk" not in out
        assert "555" not in out
        assert "10.0.12.7" not in out

    def test_clean_text_unchanged(self, spark):
        df = spark.createDataFrame([Row(text="no sensitive content here")])
        out = df.select(redact_pii("text").alias("t")).collect()[0].t
        assert out == "no sensitive content here"

    def test_hit_counts(self, spark):
        df = spark.createDataFrame(
            [Row(text="a@b.com c@d.org at 10.0.0.1 call 415-555-0199")]
        )
        row = df.select(pii_hit_counts("text").alias("c")).collect()[0].c
        assert row.emails == 2
        assert row.ips == 1
        assert row.phones == 1


class TestRepetitionStats:
    def test_known_values(self, spark):
        from autonomous_orchestrator_ai_spark.operators.curation import (
            repetition_stats,
        )

        df = spark.createDataFrame(
            [
                # 4 tokens, 2 distinct; bigrams: "a b","b a","a b" -> top 2/3
                Row(doc_id=1, text="a b a b"),
                # all distinct; bigrams all unique -> top 1/3
                Row(doc_id=2, text="w x y z"),
                Row(doc_id=3, text="solo"),  # no bigrams
            ]
        )
        got = {
            r.doc_id: (r.distinct_token_ratio, r.top_bigram_frac)
            for r in repetition_stats(df, "text", "doc_id").collect()
        }
        assert got[1] == (0.5, round(2 / 3, 6))
        assert got[2] == (1.0, round(1 / 3, 6))
        assert got[3] == (1.0, 0.0)

    def test_distinct_token_ratio_empty(self, spark):
        from autonomous_orchestrator_ai_spark.functions.text import (
            distinct_token_ratio,
        )

        df = spark.createDataFrame([Row(text=""), Row(text="A a")])
        vals = [
            r.v for r in df.select(distinct_token_ratio("text").alias("v")).collect()
        ]
        assert vals[0] == 1.0
        assert vals[1] == 0.5  # case-insensitive


class TestQualityQuantileFilter:
    def test_keeps_top_fraction_per_stratum(self, spark):
        from autonomous_orchestrator_ai_spark.operators.curation import (
            quality_quantile_filter,
        )

        rows = [
            Row(doc_id=i, source=s, q=float(i % 10))
            for s in ("a", "b")
            for i in range(10)
        ]
        df = spark.createDataFrame(rows)
        # percent_rank <= 0.25 over 10 rows keeps ranks 1..3 (pr 0, 1/9, 2/9)
        kept = quality_quantile_filter(df, 0.25, "q", strata_col="source")
        by_source = {
            s: sorted(r.q for r in g)
            for s, g in __import__("itertools").groupby(
                sorted(kept.collect(), key=lambda r: r.source),
                key=lambda r: r.source,
            )
        }
        assert by_source == {"a": [7.0, 8.0, 9.0], "b": [7.0, 8.0, 9.0]}

    def test_tie_break_is_deterministic(self, spark):
        from autonomous_orchestrator_ai_spark.operators.curation import (
            quality_quantile_filter,
        )

        df = spark.createDataFrame(
            [Row(doc_id=i, q=1.0) for i in range(8)]  # all tied
        )
        kept = sorted(
            r.doc_id for r in quality_quantile_filter(df, 0.5, "q").collect()
        )
        # rank breaks ties by doc_id: pr = (rank-1)/7 <= 0.5 -> ranks 1..4
        assert kept == [0, 1, 2, 3]


class TestNgramDocFrequency:
    def test_counts_documents_not_occurrences(self, spark):
        from autonomous_orchestrator_ai_spark.operators.curation import (
            ngram_doc_frequency,
        )

        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="click here to accept cookies please"),
                Row(doc_id=2, text="click here to accept cookies now"),
                Row(doc_id=3, text="something entirely different indeed"),
            ]
        )
        freq = {
            r.shingle: r.doc_freq
            for r in ngram_doc_frequency(df, "text", "doc_id", k=3).collect()
        }
        assert freq["click here to"] == 2
        assert freq["here to accept"] == 2
        assert "something entirely different" not in freq  # only 1 doc


class TestIncrementalDedup:
    def test_index_hits_in_batch_dups_and_fresh(self, spark):
        from autonomous_orchestrator_ai_spark.operators.curation import (
            dedup_batch_against_index,
        )
        from autonomous_orchestrator_ai_spark.functions.text import fingerprint

        seen = spark.createDataFrame([Row(text="already ingested doc")])
        index = seen.select(fingerprint("text").alias("fp")).distinct()
        batch = spark.createDataFrame(
            [
                Row(doc_id=10, text="already  INGESTED doc "),  # index hit
                Row(doc_id=11, text="brand new doc"),
                Row(doc_id=12, text="Brand NEW doc"),  # in-batch dup of 11
                Row(doc_id=13, text="another fresh one"),
            ]
        )
        kept = dedup_batch_against_index(batch, index)
        assert sorted(r.doc_id for r in kept.collect()) == [11, 13]
        # advancing the index makes a replay of the same batch a no-op
        next_index = index.unionByName(kept.select("fp"))
        assert next_index.count() == 3
        replay = dedup_batch_against_index(batch, next_index)
        assert replay.count() == 0


class TestProfileColumns:
    def test_one_pass_profile(self, spark):
        from autonomous_orchestrator_ai_spark.operators.profiling import (
            profile_columns,
        )

        df = spark.createDataFrame(
            [
                Row(a=1, b="x", c=None),
                Row(a=2, b="x", c=None),
                Row(a=None, b="y", c=None),
            ],
            "a int, b string, c string",
        )
        prof = {r.column: r for r in profile_columns(df).collect()}
        assert prof["a"].n_rows == 3
        assert prof["a"].n_nulls == 1 and prof["a"].n_distinct == 2
        assert prof["a"].min_value == "1" and prof["a"].max_value == "2"
        assert prof["b"].n_nulls == 0 and prof["b"].n_distinct == 2
        assert prof["c"].n_nulls == 3 and prof["c"].n_distinct == 0
        assert prof["c"].min_value is None


class TestWeightedSample:
    def test_deterministic_and_nested(self, spark):
        from autonomous_orchestrator_ai_spark.operators.curation import (
            weighted_sample,
        )

        df = spark.createDataFrame(
            [Row(doc_id=i, w=float(i % 10 + 1)) for i in range(200)]
        )
        top5 = {r.doc_id for r in weighted_sample(df, 5, F.col("w"), "doc_id").collect()}
        top5_again = {r.doc_id for r in weighted_sample(df, 5, F.col("w"), "doc_id").collect()}
        top20 = {r.doc_id for r in weighted_sample(df, 20, F.col("w"), "doc_id").collect()}
        assert top5 == top5_again
        assert top5 <= top20  # A-ES keys are fixed, so top-k sets nest

    def test_weight_proportional(self, spark):
        from autonomous_orchestrator_ai_spark.operators.curation import (
            weighted_sample,
        )

        # one row carries ~99% of the total weight: it must be sampled
        df = spark.createDataFrame(
            [Row(doc_id=0, w=100000.0)]
            + [Row(doc_id=i, w=0.001) for i in range(1, 100)]
        )
        ids = {r.doc_id for r in weighted_sample(df, 3, F.col("w"), "doc_id").collect()}
        assert 0 in ids

    def test_nonpositive_weights_excluded(self, spark):
        from autonomous_orchestrator_ai_spark.operators.curation import (
            weighted_sample,
        )

        df = spark.createDataFrame(
            [Row(doc_id=1, w=0.0), Row(doc_id=2, w=-1.0), Row(doc_id=3, w=1.0)]
        )
        ids = {r.doc_id for r in weighted_sample(df, 10, F.col("w"), "doc_id").collect()}
        assert ids == {3}


class TestPackSequences:
    def test_offsets_and_bins(self, spark):
        from autonomous_orchestrator_ai_spark.operators.curation import (
            pack_sequences,
        )

        df = spark.createDataFrame(
            [
                Row(src="a", doc_id=1, n=3),
                Row(src="a", doc_id=2, n=4),
                Row(src="a", doc_id=3, n=5),
                Row(src="b", doc_id=1, n=10),
            ]
        )
        out = {
            (r.src, r.doc_id): r
            for r in pack_sequences(df, "n", 5, "src", "doc_id").collect()
        }
        assert out[("a", 1)].seq_start_offset == 0 and out[("a", 1)].seq_id == 0
        assert out[("a", 2)].seq_start_offset == 3 and out[("a", 2)].seq_id == 0
        assert out[("a", 3)].seq_start_offset == 7 and out[("a", 3)].seq_id == 1
        # partitions pack independently
        assert out[("b", 1)].seq_start_offset == 0 and out[("b", 1)].seq_id == 0

    def test_rejects_bad_window(self, spark):
        from autonomous_orchestrator_ai_spark.operators.curation import (
            pack_sequences,
        )

        df = spark.createDataFrame([Row(src="a", doc_id=1, n=3)])
        with pytest.raises(ValueError):
            pack_sequences(df, "n", 0, "src", "doc_id")


class TestFilterFunnel:
    def test_first_fail_attribution_and_cascade_counts(self, spark):
        from pyspark.sql import functions as F

        from autonomous_orchestrator_ai_spark.operators.curation import (
            filter_funnel,
        )

        df = spark.createDataFrame(
            [Row(n=5), Row(n=15), Row(n=25), Row(n=35), Row(n=45)]
        )
        rules = [
            ("gte10", F.col("n") >= 10),   # drops n=5
            ("gte30", F.col("n") >= 30),   # drops 15, 25
        ]
        out = {r.rule: r for r in filter_funnel(df, rules).collect()}
        assert out["gte10"].stage == 0
        assert (out["gte10"].n_in, out["gte10"].n_dropped, out["gte10"].n_out) == (5, 1, 4)
        assert (out["gte30"].n_in, out["gte30"].n_dropped, out["gte30"].n_out) == (4, 2, 2)
        assert out["gte10"].drop_rate == 0.2

    def test_empty_input_yields_zero_rows_not_nulls(self, spark):
        from pyspark.sql import functions as F

        from autonomous_orchestrator_ai_spark.operators.curation import (
            filter_funnel,
        )

        df = spark.createDataFrame([], "n bigint")
        out = filter_funnel(df, [("gte10", F.col("n") >= 10)]).collect()
        assert len(out) == 1
        assert (out[0].n_in, out[0].n_dropped, out[0].n_out) == (0, 0, 0)

    def test_rejects_empty_rules(self, spark):
        from autonomous_orchestrator_ai_spark.operators.curation import (
            filter_funnel,
        )

        with pytest.raises(ValueError):
            filter_funnel(spark.range(1), [])


class TestCapAndShard:
    def test_cap_keeps_at_most_n_per_group_deterministically(self, spark):
        from autonomous_orchestrator_ai_spark.operators.curation import (
            cap_per_group,
        )

        rows = [Row(g="a", i=i) for i in range(10)] + [Row(g="b", i=i) for i in range(2)]
        df = spark.createDataFrame(rows)
        kept1 = sorted((r.g, r.i) for r in cap_per_group(df, "g", "i", 3).collect())
        kept2 = sorted((r.g, r.i) for r in cap_per_group(df, "g", "i", 3).collect())
        assert kept1 == kept2  # deterministic
        from collections import Counter

        counts = Counter(g for g, _ in kept1)
        assert counts["a"] == 3
        assert counts["b"] == 2  # group under the cap survives whole

    def test_shard_assignment_stable_and_in_range(self, spark):
        from pyspark.sql import functions as F

        from autonomous_orchestrator_ai_spark.operators.curation import (
            shard_assignment,
        )

        df = spark.range(200).select(
            shard_assignment(F.col("id"), 8).alias("s"), "id"
        )
        stats = df.agg(
            F.min("s").alias("lo"), F.max("s").alias("hi"),
            F.count_distinct("s").alias("n"),
        ).collect()[0]
        assert stats.lo >= 0 and stats.hi <= 7 and stats.n == 8
        # stability under corpus growth: same id -> same shard on a subset
        sub = spark.range(50).select(shard_assignment(F.col("id"), 8).alias("s"), "id")
        full = {r.id: r.s for r in df.collect()}
        assert all(full[r.id] == r.s for r in sub.collect())


class TestMixturePlan:
    def test_allocation_and_epochs(self, spark):
        from autonomous_orchestrator_ai_spark.operators.curation import (
            mixture_epoch_plan,
        )

        avail = spark.createDataFrame(
            [Row(source="a", available_tokens=100), Row(source="b", available_tokens=1000)]
        )
        out = {r.source: r for r in mixture_epoch_plan(avail, {"a": 1, "b": 3}, 400).collect()}
        assert out["a"].weight == 0.25 and out["a"].allocated_tokens == 100.0
        assert out["a"].epochs == 1.0 and not out["a"].oversampled
        assert out["b"].allocated_tokens == 300.0 and out["b"].epochs == 0.3

    def test_unlisted_source_gets_zero_weight(self, spark):
        from autonomous_orchestrator_ai_spark.operators.curation import (
            mixture_epoch_plan,
        )

        avail = spark.createDataFrame([Row(source="x", available_tokens=10)])
        r = mixture_epoch_plan(avail, {"a": 1}, 100).collect()[0]
        assert r.weight == 0.0 and r.allocated_tokens == 0.0 and not r.oversampled

    def test_degenerate_weights_rejected(self, spark):
        import pytest as _pytest

        from autonomous_orchestrator_ai_spark.operators.curation import (
            mixture_epoch_plan,
        )

        avail = spark.createDataFrame([Row(source="x", available_tokens=10)])
        for bad in ({}, {"a": 0.0}, {"a": 1.0, "b": -1.0}):
            with _pytest.raises(ValueError, match="positive total"):
                mixture_epoch_plan(avail, bad, 100)


class TestAssignSplit:
    def test_partition_and_determinism(self, spark):
        from autonomous_orchestrator_ai_spark.operators.curation import (
            assign_split,
        )

        df = spark.range(2000).withColumnRenamed("id", "doc_id")
        s1 = assign_split(df)
        counts = {r["split"]: r["n"] for r in
                  s1.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert sum(counts.values()) == 2000
        # roughly 80/10/10 (binomial noise at n=2000)
        assert 1500 < counts["train"] < 1750
        assert 100 < counts["val"] < 320
        assert 100 < counts["test"] < 320
        # stable under corpus growth: the same doc keeps its split
        sub = assign_split(df.where(F.col("doc_id") < 500))
        joined = (
            s1.withColumnRenamed("split", "s_full")
            .join(sub.withColumnRenamed("split", "s_sub"), "doc_id")
        )
        assert joined.where(F.col("s_full") != F.col("s_sub")).count() == 0


# --- cluster_safe_split ----------------------------------------------------


def test_cluster_safe_split_units_never_span_splits(spark):
    from autonomous_orchestrator_ai_spark.operators.curation import (
        cluster_safe_split,
    )
    from autonomous_orchestrator_ai_spark.operators.graph import (
        connected_components,
    )
    from pyspark.sql import functions as F

    # two clusters {1,2,3}, {10,11}; 20..119 singletons
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    docs = spark.range(1, 120).withColumnRenamed("id", "doc_id")
    out = cluster_safe_split(docs, connected_components(edges)).cache()

    # every cluster lands in exactly one split
    spans = (
        out.groupBy("split_unit")
        .agg(F.count_distinct("split").alias("ns"))
        .where(F.col("ns") > 1)
        .count()
    )
    assert spans == 0
    # cluster members share the unit id (the component min)
    units = {r["doc_id"]: r["split_unit"] for r in out.collect()}
    assert units[1] == units[2] == units[3] == 1
    assert units[10] == units[11] == 10
    assert units[50] == 50  # singleton falls back to itself
    # all three splits materialize over ~116 units (sanity, deterministic)
    assert {r["split"] for r in out.select("split").distinct().collect()} == {
        "train", "val", "test"
    }
    out.unpersist()


def test_cluster_safe_split_stable_under_corpus_growth(spark):
    from autonomous_orchestrator_ai_spark.operators.curation import (
        cluster_safe_split,
    )
    from autonomous_orchestrator_ai_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    comp = connected_components(edges)
    small = spark.range(1, 50).withColumnRenamed("id", "doc_id")
    big = spark.range(1, 500).withColumnRenamed("id", "doc_id")
    s_small = {r["doc_id"]: r["split"]
               for r in cluster_safe_split(small, comp).collect()}
    s_big = {r["doc_id"]: r["split"]
             for r in cluster_safe_split(big, comp).collect()}
    assert all(s_big[k] == v for k, v in s_small.items())
