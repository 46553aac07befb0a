"""Dedup + text-analysis operator tests on crafted fixtures."""

from __future__ import annotations

from pathlib import Path

import pytest

from autonomous_orchestrator_ai_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_score,
    token_count,
    word_shingles,
)
from autonomous_orchestrator_ai_spark.operators.dedup import (
    edit_verified_near_duplicates,
    exact_dedup_by_fingerprint,
    minhash_near_duplicates,
    ngram_containment_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_signature,
)

DOC_A = "the quick brown fox jumps over the lazy dog near the river bank today"
DOC_A_NEAR = "the quick brown fox jumps over the lazy dog near the river bank tonight"
DOC_B = "completely different content about spark query engines and distributed joins"


@pytest.fixture()
def docs(spark):
    rows = [
        (0, DOC_A),
        (1, DOC_A_NEAR),            # near-dup of 0 (one word differs)
        (2, DOC_B),
        (3, "  The  Quick Brown fox jumps over the lazy dog near the river bank today "),
        # ^ exact dup of 0 after normalization (case + whitespace)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_fingerprint_normalization(docs):
    fps = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", fingerprint("text").alias("fp")).collect()}
    assert fps[0] == fps[3]          # normalization-invariant
    assert fps[0] != fps[1]


def test_exact_dedup_keeps_smallest_id(docs):
    out = sorted(r["doc_id"] for r in exact_dedup_by_fingerprint(docs).collect())
    assert out == [0, 1, 2]          # doc 3 deduped into doc 0


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["text"])
    got = [r[0] for r in df.select(word_shingles("text", 3)).collect()]
    assert got[0] == ["a b c", "b c d"]
    assert got[1] == ["a b"]         # short doc -> single whole-doc shingle


def test_minhash_identical_docs_identical_signatures(docs):
    sigs = {r["doc_id"]: [r[f"minhash_{j}"] for j in range(8)]
            for r in minhash_signatures(docs).collect()}
    assert sigs[0] == sigs[3]
    assert sigs[0] != sigs[2]
    # near-dup shares most minhashes
    shared = sum(a == b for a, b in zip(sigs[0], sigs[1]))
    assert shared >= 4


def test_minhash_near_duplicates_finds_pair(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_near_duplicates(docs, jaccard_threshold=0.5).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs and 0.5 <= pairs[(0, 1)] < 1.0
    assert not any(2 in p for p in pairs)


def test_ngram_jaccard_exact(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    assert pairs[(0, 3)] == 1.0
    # doc0 has 12 shingles, 11 shared with doc1 -> 11/13
    assert abs(pairs[(0, 1)] - 11 / 13) < 1e-6


def test_simhash_near_for_near_dups(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signature(docs).collect()}
    assert sigs[0] == sigs[3]
    ham01 = bin(sigs[0] ^ sigs[1]).count("1")
    ham02 = bin(sigs[0] ^ sigs[2]).count("1")
    assert ham01 < ham02             # near-dup closer than unrelated doc


# -- text analysis ----------------------------------------------------------


def test_token_count(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("  ",), ("one",)], ["text"])
    got = [r[0] for r in df.select(token_count("text")).collect()]
    assert got == [3, 0, 0, 1]


def test_quality_score_ordering(spark):
    good = "the cat sat on the mat and looked at the dog with a happy face"
    bad = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"
    df = spark.createDataFrame([(0, good), (1, bad)], ["i", "text"])
    got = {r["i"]: r["q"] for r in df.select("i", quality_score("text").alias("q")).collect()}
    assert got[0] > got[1]
    assert 0.0 <= got[1] < got[0] <= 1.0


def test_lang_id(spark):
    rows = [
        (0, "the cat and the dog that was here with this thing"),
        (1, "der hund und die katze ist nicht auf der couch"),
        (2, "le chat et la maison est dans les arbres pour une raison"),
        (3, "el perro y los gatos en una casa es como por la noche"),
        (4, "这是 一个 中文 句子"),
        (5, "qwerty zxcvb asdfgh"),
    ]
    df = spark.createDataFrame(rows, ["i", "text"])
    got = {r["i"]: r["lang"] for r in df.select("i", lang_id("text").alias("lang")).collect()}
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[2] == "fr"
    assert got[3] == "es"
    assert got[4] == "zh"
    assert got[5] == "und"


# -- winnowing (rolling-hash fingerprints) ----------------------------------


def test_char_gram_hashes_counts(spark):
    from pyspark.sql import functions as F

    from autonomous_orchestrator_ai_spark.functions.text import char_gram_hashes

    df = spark.createDataFrame([("abcdefghij",), ("abc",)], ["text"])
    got = [r[0] for r in df.select(F.size(char_gram_hashes("text", 8))).collect()]
    assert got[0] == 3               # 10 - 8 + 1
    assert got[1] == 1               # shorter than k -> single whole-doc gram


def test_winnowing_sketch_subset_and_normalization(docs):
    from pyspark.sql import functions as F

    from autonomous_orchestrator_ai_spark.functions.text import (
        char_gram_hashes,
        winnowing_sketch,
    )

    rows = docs.select(
        "doc_id",
        char_gram_hashes("text").alias("g"),
        winnowing_sketch("text").alias("sk"),
    ).collect()
    by_id = {r["doc_id"]: r for r in rows}
    for r in rows:
        assert set(r["sk"]) <= set(r["g"])      # sketch is a subset of grams
        assert 0 < len(r["sk"]) <= len(r["g"])
    # normalization-invariant: doc 3 == doc 0 after case/whitespace collapse
    assert sorted(by_id[0]["sk"]) == sorted(by_id[3]["sk"])
    assert sorted(by_id[0]["sk"]) != sorted(by_id[2]["sk"])


def test_winnowing_catches_copied_span(spark):
    from autonomous_orchestrator_ai_spark.operators.dedup import (
        winnowing_near_duplicates,
    )

    copied = "the quick brown fox jumps over the lazy dog"
    rows = [
        (0, copied + " and then some entirely original trailing words"),
        (1, "unrelated preamble text here " + copied),
        (2, "totally disjoint vocabulary about catalyst optimizer internals"),
        (3, copied),                 # fully contained in 0 and 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in winnowing_near_duplicates(df, containment=0.5).collect()
    }
    assert (0, 1) in pairs           # share a long span -> common sketch hashes
    assert pairs[(0, 3)] == 1.0      # doc 3 fully embedded in doc 0
    assert pairs[(1, 3)] == 1.0
    assert not any(2 in p for p in pairs)


def test_winnowing_lsh_is_subset_with_identical_scores(spark):
    """winnowing_near_duplicates_lsh finds a subset of the exact form's
    pairs (LSH recall) and every found pair carries the IDENTICAL
    (shared, containment) the exact inverted-index form computes."""
    from autonomous_orchestrator_ai_spark.operators.dedup import (
        winnowing_near_duplicates,
        winnowing_near_duplicates_lsh,
    )
    from autonomous_orchestrator_ai_spark.plans.registry import table

    docs = table(spark, "/root/testdata/sf0.01", "documents")
    exact = {
        (r.id_a, r.id_b): (r.shared, r.containment)
        for r in winnowing_near_duplicates(docs, containment=0.6).collect()
    }
    lsh = {
        (r.id_a, r.id_b): (r.shared, r.containment)
        for r in winnowing_near_duplicates_lsh(docs, containment=0.6).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, scores in lsh.items():
        assert scores == exact[pair], pair
    # on this corpus recall is full; pin a floor so regressions surface
    assert len(lsh) >= 0.8 * len(exact)


def test_drop_hot_keys_branches(spark):
    """The bounded hot-set guard has three plans: empty -> identity, small
    -> literal NOT-IN filter (no join), large -> broadcast anti-join."""
    from pyspark.sql import functions as F

    from autonomous_orchestrator_ai_spark.operators import dedup as D

    frame = spark.range(100).select(
        F.col("id"), F.concat(F.lit("k"), (F.col("id") % 50)).alias("sh")
    )

    # empty hot set: the SAME DataFrame object comes back (no-op guard)
    empty_hot = frame.select("sh").limit(0)
    assert D._drop_hot_keys(frame, empty_hot, ["sh"]) is frame

    # small hot set: rows dropped, and the plan has no Join operator
    hot = spark.createDataFrame([("k0",), ("k1",)], ["sh"])
    guarded = D._drop_hot_keys(frame, hot, ["sh"])
    assert guarded.count() == 96
    assert "Join" not in guarded._jdf.queryExecution().optimizedPlan().toString()

    # over-cap hot set: falls back to broadcast anti-join, same semantics
    big_frame = spark.range(3000).select(
        F.col("id"), F.concat(F.lit("h"), F.col("id")).alias("sh")
    )
    big_hot = big_frame.select("sh").filter(F.col("id") < 2000).select("sh")
    assert big_hot.count() > D._HOT_SET_LITERAL_CAP
    out = D._drop_hot_keys(big_frame, big_hot, ["sh"])
    assert out.count() == 1000
    assert "Join" in out._jdf.queryExecution().optimizedPlan().toString()

    # composite keys: stringified NOT-IN drops exactly the named pairs
    two = frame.withColumn("band", (F.col("id") % 2).cast("int"))
    hot2 = spark.createDataFrame([(0, "k0"), (1, "k1")], ["band", "sh"])
    kept = D._drop_hot_keys(two, hot2, ["band", "sh"])
    # (band=0, sh=k0) matches ids {0, 50}; (band=1, sh=k1) matches {1, 51}
    assert kept.count() == 96
    ids = {r.id for r in kept.collect()}
    assert {0, 50, 1, 51}.isdisjoint(ids)


def test_containment_catches_embedded_doc(spark):
    # doc 2 is a verbatim substring of doc 1: Jaccard is diluted by the
    # container's extra shingles, containment of the contained doc is 1.0
    long = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    short = "eta theta iota kappa lambda mu"
    df = spark.createDataFrame(
        [(1, long), (2, short), (3, "unrelated words entirely here today")],
        "doc_id long, text string",
    )
    rows = ngram_containment_pairs(df, threshold=0.9).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.contained_id, r.container_id) == (2, 1)
    assert r.containment == 1.0
    assert r.jaccard < 0.5  # the signal Jaccard-only dedup would miss


def test_edit_verified_scores_candidates(spark):
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    near = base.replace("kappa", "KAPPA2")  # one token edited
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, base), (4, "totally different content")],
        "doc_id long, text string",
    )
    rows = edit_verified_near_duplicates(df, similarity_threshold=0.5).collect()
    got = {(r.id_a, r.id_b): r for r in rows}
    # identical pair: distance 0, similarity exactly 1
    assert got[(1, 3)].edit_distance == 0
    assert got[(1, 3)].edit_similarity == 1.0
    # one-token edit: small positive distance, similarity just under 1
    for pair in [(1, 2), (2, 3)]:
        if pair in got:  # must band-collide to be scored; (1,3) always does
            assert 0 < got[pair].edit_distance <= 7
            assert 0.9 < got[pair].edit_similarity < 1.0
    assert all(p[0] != 4 and p[1] != 4 for p in got)


def test_edit_verified_truncates_comparison_window(spark):
    # identical 30-char prefix, divergence beyond max_chars: distance is 0
    # within the window, so the pair scores 1.0 despite different suffixes
    prefix = "one two three four five six seven "
    df = spark.createDataFrame(
        [(1, prefix + "apple banana"), (2, prefix + "cherry date")],
        "doc_id long, text string",
    )
    rows = edit_verified_near_duplicates(
        df, similarity_threshold=0.9, max_chars=len(prefix) - 1
    ).collect()
    if rows:  # pair is only scored if the full-text shingles band-collide
        assert rows[0].edit_distance == 0 and rows[0].edit_similarity == 1.0


def test_containment_tie_breaks_on_id(spark):
    df = spark.createDataFrame(
        [(7, "one two three four"), (5, "one two three four")],
        "doc_id long, text string",
    )
    r = ngram_containment_pairs(df, threshold=0.9).collect()[0]
    assert (r.contained_id, r.container_id) == (5, 7)
    assert r.containment == 1.0 and r.jaccard == 1.0


# ---------------------------------------------------------------------------
# Exact-Jaccard cost pre-flight + budget routing (r7)
# ---------------------------------------------------------------------------


def test_exact_jaccard_cost_profile_matches_hand_computed_df(spark):
    """Synthetic corpus with a KNOWN shingle-df profile: 3 docs sharing
    one 3-gram ('a b c': df=3), plus doc-unique shingles. The estimator's
    sum_df_sq must equal the hand-computed value exactly — it is integer
    arithmetic over the same distinct (doc, shingle) explode the exact
    join starts from."""
    from autonomous_orchestrator_ai_spark.operators.dedup import (
        exact_jaccard_cost_profile,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c x1 y1"),   # shingles: abc, bcx1, cx1y1
            (2, "a b c x2 y2"),   # shingles: abc, bcx2, cx2y2
            (3, "a b c x3 y3"),   # shingles: abc, bcx3, cx3y3
        ],
        ["doc_id", "text"],
    )
    est = exact_jaccard_cost_profile(df, "text", "doc_id", shingle_k=3,
                                     bytes_per_pair_row=20)
    # df profile: 'a b c' df=3; six doc-unique shingles df=1 each
    assert est["n_docs"] == 3
    assert est["n_postings"] == 9           # 3 shingles per doc, distinct
    assert est["sum_df_sq"] == 3 * 3 + 6 * 1
    assert est["est_candidate_rows"] == 15
    assert est["est_shuffle_bytes"] == 20 * 15


def test_cluster_safe_split_auto_routes_by_budget(spark, monkeypatch, routes):
    """Budget routing both ways at sf0.001: a huge budget picks the exact
    edge path, a zero budget picks the LSH path — and each route's result
    equals the corresponding registered variant exactly. The callable
    oracle replays the SAME decision in DuckDB, from the same Σ df²."""
    from autonomous_orchestrator_ai_spark.plans import dedup_queries as dq
    from autonomous_orchestrator_ai_spark.plans import registry

    sf = "/root/testdata/sf0.001"

    def rows(df):
        return sorted(map(tuple, df.collect()))

    monkeypatch.setenv(dq.SPILL_BUDGET_ENV, str(10**15))
    assert rows(dq.cluster_safe_split_report_auto(spark, sf)) == rows(
        dq.cluster_safe_split_report(spark, sf)
    )
    assert registry.resolve_oracle("cluster_safe_split_report_auto", sf) == (
        registry.ORACLES["cluster_safe_split_report"]
    )
    spark_rec, oracle_rec = routes("exact_split")
    assert spark_rec == oracle_rec
    sum_df_sq = spark_rec["inputs"]["sum_df_sq"]
    assert sum_df_sq == 56_785  # the sf0.001 shingle-df profile
    assert spark_rec["estimate"] == dq.PAIR_ROW_BYTES * sum_df_sq
    assert spark_rec["budget"] == 10**15 and spark_rec["chosen"] == "exact"

    routes.clear()
    monkeypatch.setenv(dq.SPILL_BUDGET_ENV, "0")
    assert rows(dq.cluster_safe_split_report_auto(spark, sf)) == rows(
        dq.cluster_safe_split_report_lsh(spark, sf)
    )
    assert registry.resolve_oracle("cluster_safe_split_report_auto", sf) == (
        registry.ORACLES["cluster_safe_split_report_lsh"]
    )
    assert [(r["inputs"]["sum_df_sq"], r["chosen"]) for r in routes("exact_split")] == [
        (sum_df_sq, "lsh")
    ] * 2


def test_lsh_bucket_sample_bounds_and_determinism(spark):
    """max_bucket_sample keeps each band bucket's contribution bounded at
    cap*(cap-1)/2 pairs, deterministically (same md5 draw both runs), and
    the sampled candidate set is a subset of the uncapped one."""
    from autonomous_orchestrator_ai_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    # 40 docs with IDENTICAL text -> identical signatures -> one bucket
    # per band; plus two normal docs
    rows = [(i, "same boilerplate text repeated everywhere") for i in range(40)]
    rows += [(100, DOC_A), (101, DOC_A_NEAR)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=8, shingle_k=3)
    uncapped = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs)[0].collect()}
    cap = 5
    run1 = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, max_bucket_sample=cap)[0].collect()
    }
    run2 = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, max_bucket_sample=cap)[0].collect()
    }
    assert run1 == run2                      # deterministic md5 draw
    assert run1 <= uncapped
    # each band's bucket collapses to <= cap members. The draw is salted
    # per (band, bucket) — r8 — so each of the 4 bands keeps an
    # INDEPENDENT sample (the recall upside: one unlucky draw no longer
    # evicts a doc from every band), bounding distinct dup pairs at
    # bands * C(cap,2) instead of a single shared C(cap,2).
    dup_pairs = {p for p in run1 if p[0] < 40 and p[1] < 40}
    assert 0 < len(dup_pairs) <= 4 * (cap * (cap - 1) // 2)
    # the normal near-dup pair is in a cold bucket and survives untouched
    assert (100, 101) in run1


def test_lsh_sample_cap_cost_route_flips_on_hot_bucket(spark, routes):
    """The band-join pre-flight (lsh_band_cost_profile) enables the
    sample cap exactly when the estimated candidate shuffle crosses the
    budget: a synthetic hot-bucket corpus flips the route under a tiny
    budget, stays unguarded (bit-identical pairs) under a huge one. Each
    call emits one ``lsh_guard_cap`` record and returns the same outcome
    as its pre-flight."""
    from autonomous_orchestrator_ai_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    rows = [(i, "same boilerplate text repeated everywhere") for i in range(40)]
    rows += [(100, DOC_A), (101, DOC_A_NEAR)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=8, shingle_k=3)
    pairs, preflight = lsh_candidate_pairs(sigs)
    uncapped = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert preflight is None and routes("lsh_guard_cap") == []

    # huge budget: route stays unguarded — identical candidate set
    pairs, preflight = lsh_candidate_pairs(
        sigs, max_bucket_sample=5, sample_budget_bytes=10**15
    )
    off = {(r.id_a, r.id_b) for r in pairs.collect()}
    [rec] = routes("lsh_guard_cap")
    assert rec["chosen"] is False and preflight["capped"] is False
    assert rec["budget"] == 10**15
    cand_rows = rec["inputs"]["est_candidate_rows"]
    assert rec["estimate"] == 20 * cand_rows == preflight["est_shuffle_bytes"]
    # 40 identical docs -> one 40-bucket per band: ≥ 4 * C(40,2) pre-distinct
    assert cand_rows >= 4 * (40 * 39 // 2)
    assert off == uncapped

    # zero budget: the hot bucket trips the guard -> bounded pairs
    routes.clear()
    pairs, preflight = lsh_candidate_pairs(
        sigs, max_bucket_sample=5, sample_budget_bytes=0
    )
    on = {(r.id_a, r.id_b) for r in pairs.collect()}
    [rec] = routes("lsh_guard_cap")
    assert rec["chosen"] is True and preflight["capped"] is True
    assert rec["inputs"]["est_candidate_rows"] == cand_rows
    assert on <= uncapped
    # per-band independent samples (salted draw): <= bands * C(cap,2)
    dup_pairs = {p for p in on if p[0] < 40 and p[1] < 40}
    assert 0 < len(dup_pairs) <= 4 * (5 * 4 // 2)
    assert (100, 101) in on


def test_minhash_route_matches_pinned_twins(spark, monkeypatch):
    """The auto-routed minhash_lsh_near_dups equals the unguarded form
    under a huge budget and the pinned capped twin under a zero budget,
    and resolve_oracle serves the matching branch's SQL — both engines
    replay the identical estimate, so the route can never diverge."""
    from autonomous_orchestrator_ai_spark.plans import dedup_queries as dq
    from autonomous_orchestrator_ai_spark.plans import registry

    sf = "/root/testdata/sf0.001"

    def rows(df):
        return sorted(map(tuple, df.collect()))

    monkeypatch.setenv(dq.LSH_SPILL_BUDGET_ENV, str(10**15))
    assert registry.resolve_oracle("minhash_lsh_near_dups", sf) == (
        dq._mlsh_sql(capped=False)
    )
    unguarded = rows(dq.minhash_lsh_near_dups(spark, sf))

    monkeypatch.setenv(dq.LSH_SPILL_BUDGET_ENV, "0")
    assert registry.resolve_oracle("minhash_lsh_near_dups", sf) == (
        dq._mlsh_sql(capped=True)
    )
    assert rows(dq.minhash_lsh_near_dups(spark, sf)) == rows(
        dq.minhash_lsh_near_dups_capped(spark, sf)
    )
    # on this corpus the cap never binds (no hot buckets), so both
    # branches agree — the route is a plan change, not a result change
    assert rows(dq.minhash_lsh_near_dups_capped(spark, sf)) == unguarded


def test_winnowing_route_matches_pinned_twins(spark, monkeypatch):
    """Same contract for the winnowing family: zero budget routes to the
    guarded twin (cap + KMV screen), huge budget to the unguarded plan,
    with the oracle serving the matching SQL either way."""
    from autonomous_orchestrator_ai_spark.plans import dedup_queries as dq
    from autonomous_orchestrator_ai_spark.plans import registry

    sf = "/root/testdata/sf0.001"

    def rows(df):
        return sorted(map(tuple, df.collect()))

    monkeypatch.setenv(dq.LSH_SPILL_BUDGET_ENV, str(10**15))
    assert registry.resolve_oracle("winnowing_near_dup_pairs_lsh", sf) == (
        dq._wlsh_sql(guarded=False)
    )
    unguarded = rows(dq.winnowing_near_dup_pairs_lsh_q(spark, sf))

    monkeypatch.setenv(dq.LSH_SPILL_BUDGET_ENV, "0")
    assert registry.resolve_oracle("winnowing_near_dup_pairs_lsh", sf) == (
        dq._wlsh_sql(guarded=True)
    )
    guarded = rows(dq.winnowing_near_dup_pairs_lsh_q(spark, sf))
    assert guarded == rows(
        dq.winnowing_near_dup_pairs_lsh_guarded_q(spark, sf)
    )
    # guards trade only recall, never values: guarded ⊆ unguarded with
    # identical (shared, containment) on surviving pairs
    assert set(guarded) <= set(unguarded)


def test_winnowing_lsh_sliced_verify_equals_single_pass(spark, routes):
    """A slice budget below the priced transient partitions the
    screen+verify into sequential checkpointed hash-slices; the
    disjoint-slice union must be EXACTLY the single-pass result (pairs
    and values), with and without the guards engaged — the
    bounded-transient mode trades time for space, never results."""
    from autonomous_orchestrator_ai_spark.operators.dedup import (
        winnowing_near_duplicates_lsh,
    )
    from autonomous_orchestrator_ai_spark.plans.registry import table
    from autonomous_orchestrator_ai_spark.session import (
        release_session_storage,
    )

    docs = table(spark, "/root/testdata/sf0.001", "documents")

    def rows(**kw):
        return sorted(
            (r.id_a, r.id_b, r.shared, r.containment)
            for r in winnowing_near_duplicates_lsh(
                docs, containment=0.6, **kw
            ).collect()
        )

    def sliced(budget, **kw):
        routes.clear()
        out = rows(slice_budget_bytes=budget, **kw)
        [screen] = routes("winnow_screen_slices")
        assert screen["chosen"] >= 2
        return out, routes("lsh_guard_cap")[0]["chosen"]

    # budgets sit below each branch's priced transient at this corpus
    # (~6.5 MB unguarded, ~0.39 MB guarded) without nearing the cap.
    # plain (no guards): the pre-flight runs, no estimate reaches its budget
    assert sliced(
        5_000_000, max_bucket_sample=64, guard_budget_bytes=10**18
    ) == (rows(), False)
    # guards on (cap + screen) — the sf100+ configuration
    guarded = dict(max_bucket_sample=64, screen_k=64, screen_cut=(9, 20))
    assert sliced(300_000, guard_budget_bytes=0, **guarded) == (
        rows(**guarded), True
    )
    # localCheckpoint lineage from the sliced runs must not leak into
    # later tests' storage accounting
    release_session_storage(spark)


def test_winnowing_guard_budget_requires_cap(spark):
    """guard_budget_bytes without max_bucket_sample used to silently skip
    the pre-flight (so NO guard ever engaged, at any scale — the ENOSPC
    regime the guards exist for); lsh_candidate_pairs' one input check
    makes it a loud contract error for the winnowing family too."""
    import pytest

    from autonomous_orchestrator_ai_spark.operators.dedup import (
        winnowing_near_duplicates_lsh,
    )
    from autonomous_orchestrator_ai_spark.plans.registry import table

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    with pytest.raises(ValueError, match="max_bucket_sample"):
        winnowing_near_duplicates_lsh(
            docs, guard_budget_bytes=0, screen_k=64
        )


def test_lsh_budget_without_cap_is_rejected(spark, routes):
    """A guard budget with no cap value would run unguarded at every
    scale, so lsh_candidate_pairs rejects it before any work (the one
    input check of both LSH families). With a cap value, the capped
    volume is priced by the same pre-flight."""
    import pytest

    from autonomous_orchestrator_ai_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    rows = [(i, "same boilerplate text repeated everywhere") for i in range(40)]
    rows += [(100, DOC_A), (101, DOC_A_NEAR)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=8, shingle_k=3)

    with pytest.raises(ValueError, match="max_bucket_sample"):
        lsh_candidate_pairs(sigs, sample_budget_bytes=0)
    assert routes("lsh_guard_cap") == []

    lsh_candidate_pairs(sigs, max_bucket_sample=5, sample_budget_bytes=0)
    [rec] = routes("lsh_guard_cap")
    assert rec["chosen"] is True and rec["inputs"]["cap"] == 5
    # 40-doc buckets collapse to least(n,5): capped pricing is strictly
    # below the raw quadratic estimate
    inputs = rec["inputs"]
    assert 0 < inputs["est_capped_candidate_rows"] < inputs["est_candidate_rows"]


def test_winnowing_auto_slice_route_from_preflight(spark, routes):
    """VERDICT r8 item 2: the slice count derives from the pre-flight's
    guarded-transient estimate instead of a human env var. A synthetic
    hot fixture under a tiny slice budget flips N above 1; a huge budget
    keeps the single-pass plan; results are identical either way (the
    route is a space decision, never a result decision)."""
    from autonomous_orchestrator_ai_spark.operators.dedup import (
        winnowing_near_duplicates_lsh,
    )
    from autonomous_orchestrator_ai_spark.session import (
        release_session_storage,
    )

    rows = [
        (i, "same boilerplate text repeated everywhere in every document " * 3)
        for i in range(40)
    ]
    rows += [(100, DOC_A), (101, DOC_A_NEAR)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    guards = dict(
        max_bucket_sample=5,
        screen_k=8,
        screen_cut=(9, 20),
        guard_budget_bytes=0,  # always engage the guards on this fixture
    )

    def run(slice_budget):
        routes.clear()
        out = sorted(
            (r.id_a, r.id_b, r.shared, r.containment)
            for r in winnowing_near_duplicates_lsh(
                docs, slice_budget_bytes=slice_budget, **guards
            ).collect()
        )
        [screen] = routes("winnow_screen_slices")
        return out, screen, routes("winnow_verify_slices")

    from autonomous_orchestrator_ai_spark.operators.dedup import (
        SCREEN_ROW_BYTES,
        SORT_MERGE_TRANSIENT_FACTOR,
        WINNOW_CAND_ROW_BYTES,
        slice_count,
    )

    single, screen, verify = run(10**18)
    [guard] = routes("lsh_guard_cap")
    assert guard["chosen"] is True
    assert screen["chosen"] == 1 and verify == []   # single pass
    capped_rows = guard["inputs"]["est_capped_candidate_rows"]
    assert screen["inputs"]["rows"] == capped_rows
    assert screen["estimate"] == capped_rows * SCREEN_ROW_BYTES
    # budget sized to a third of the estimate -> N flips to >= 2
    tight = max(1, screen["estimate"] // 3)
    sliced, screen_sliced, [verify] = run(tight)
    assert screen_sliced["chosen"] >= 2
    assert sliced == single
    # the verify count is priced at runtime from the screen survivors,
    # each shipping two full sketch arrays
    assert verify["estimate"] == verify["inputs"]["rows"] * WINNOW_CAND_ROW_BYTES
    assert verify["chosen"] == slice_count(verify["estimate"], tight)
    # a budget EXACTLY equal to the payload estimate is no longer priced
    # as a single pass (r9 sf1000 ENOSPC): the sort-merge factor prices
    # the ~2x on-disk peak of spills + merged file, routing to 2 slices
    exact, screen_exact, _ = run(screen["estimate"])
    assert screen_exact["inputs"]["transient_factor"] == SORT_MERGE_TRANSIENT_FACTOR
    assert screen_exact["chosen"] == SORT_MERGE_TRANSIENT_FACTOR
    assert exact == single
    release_session_storage(spark)


def test_registered_winnowing_auto_slices_result_invariant(spark, monkeypatch):
    """Through the REGISTRY path: shrinking the slice budget env forces
    the auto route to slice the screen+verify, and the result stays
    identical to the single-pass default — the oracle never sees the
    decision, at any budget. A zero budget (no spill capacity) prices
    one pass instead of dividing by zero."""
    from autonomous_orchestrator_ai_spark.plans import dedup_queries as dq
    from autonomous_orchestrator_ai_spark.session import (
        release_session_storage,
    )

    sf = "/root/testdata/sf0.001"

    def rows():
        return sorted(
            map(tuple, dq.winnowing_near_dup_pairs_lsh_q(spark, sf).collect())
        )

    # guards forced ON (zero spill budget) so the guarded branch is the
    # one being sliced — the sf100+ configuration
    monkeypatch.setenv(dq.LSH_SPILL_BUDGET_ENV, "0")
    single = rows()
    # a 50 kB budget forces several screen AND verify slices at this
    # corpus (est ~ hundreds of kB) without tripping MAX_AUTO_SLICES
    for budget in ("50000", "0"):
        monkeypatch.setenv(dq.WINNOW_SLICE_BUDGET_ENV, budget)
        assert rows() == single
    release_session_storage(spark)


def test_slice_count_rule():
    """The one slice-count rule of both LSH families' bounded-transient
    mode (and of the pre-flight probe): ceil(est x factor / budget),
    never below one pass, capped at MAX_AUTO_SLICES; a budget <= 0 or
    None (no spill capacity) prices one pass instead of dividing by it."""
    from autonomous_orchestrator_ai_spark.operators.dedup import (
        MAX_AUTO_SLICES,
        SORT_MERGE_TRANSIENT_FACTOR,
        slice_count,
    )

    assert slice_count(0, 1_000) == 1
    assert slice_count(1_000, 1_000) == SORT_MERGE_TRANSIENT_FACTOR == 2
    assert slice_count(10**18, 1) == MAX_AUTO_SLICES
    for budget in (0, -5, None):
        assert slice_count(1_000, budget) == 1


def test_payload_pin_routes_on_source_input_bytes(spark, monkeypatch, routes):
    """The payload pin persists a frame only when its source's input
    files are known and fit PAYLOAD_PIN_BUDGET_BYTES; the caller gets the
    persisted handle back in ``caches``. Each call is one record."""
    from autonomous_orchestrator_ai_spark.operators import dedup
    from autonomous_orchestrator_ai_spark.plans.registry import table

    sf = Path(__file__).resolve().parent.parent / "perfbench" / "data" / "sf0.001"
    source = table(spark, str(sf), "documents")
    caches: list = []
    pinned = dedup._pin_small_payload(source.select("doc_id"), source, caches)
    assert pinned.is_cached and caches == [pinned]
    pinned.unpersist()
    [rec] = routes("payload_pin")
    assert rec["chosen"] is True
    assert rec["estimate"] == dedup._source_input_bytes(source) > 0
    assert rec["budget"] == dedup.PAYLOAD_PIN_BUDGET_BYTES

    # no input files (an in-memory frame): size unknown, never pinned
    local = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
    caches = []
    assert dedup._pin_small_payload(local, local, caches) is local
    assert not local.is_cached and caches == []

    monkeypatch.setattr(dedup, "PAYLOAD_PIN_BUDGET_BYTES", 0)
    frame = source.select("doc_id")
    assert dedup._pin_small_payload(frame, source, caches) is frame
    assert not frame.is_cached and caches == []
    assert [r["chosen"] for r in routes("payload_pin")] == [True, False, False]


def test_minhash_sliced_verify_equals_single_pass(spark, routes):
    """The minhash family's bounded-transient verify (r9 — the ported
    winnowing sequencer, for the sf3000 linear-payload wall): runtime-
    priced small budgets must return EXACTLY the single-pass pairs and
    jaccards; a zero budget disables the sequencer (capacity semantics,
    unlike the guard's threshold semantics)."""
    from autonomous_orchestrator_ai_spark.operators.dedup import (
        minhash_near_duplicates,
    )
    from autonomous_orchestrator_ai_spark.plans.registry import table
    from autonomous_orchestrator_ai_spark.session import (
        release_session_storage,
    )

    docs = table(spark, "/root/testdata/sf0.001", "documents")

    def rows(**kw):
        return sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_near_duplicates(
                docs, jaccard_threshold=0.2, **kw
            ).collect()
        )

    from autonomous_orchestrator_ai_spark.operators.dedup import (
        MINHASH_VERIFY_ROW_BYTES,
    )

    single = rows()
    # 37 candidates x 4 KB here: ~12 and ~2 candidate rows per slice
    for budget, slices in ((100_000, 3), (16_000, 19)):
        routes.clear()
        priced = rows(verify_budget_bytes=budget)
        [rec] = routes("minhash_verify_slices")
        assert rec["inputs"]["rows"] == 37
        assert rec["estimate"] == 37 * MINHASH_VERIFY_ROW_BYTES
        assert rec["budget"] == budget and rec["chosen"] == slices
        assert priced == single
    routes.clear()
    assert rows(verify_budget_bytes=0) == single
    assert routes("minhash_verify_slices") == []
    release_session_storage(spark)


def test_int_env_parse_errors_name_the_variable(monkeypatch):
    """ADVICE r8: a typo'd env value must fail with a message naming the
    variable, not an opaque bare-int() ValueError at query construction."""
    import pytest

    from autonomous_orchestrator_ai_spark.plans import dedup_queries as dq

    monkeypatch.setenv(dq.WINNOW_SLICE_BUDGET_ENV, "24GiB")
    with pytest.raises(ValueError, match=dq.WINNOW_SLICE_BUDGET_ENV):
        dq._winnow_slice_budget_bytes()
    monkeypatch.setenv(dq.WINNOW_SLICE_BUDGET_ENV, "  ")
    assert dq._winnow_slice_budget_bytes() == dq.DEFAULT_WINNOW_SLICE_BUDGET_BYTES
    monkeypatch.setenv(dq.WINNOW_SLICE_BUDGET_ENV, "1024")
    assert dq._winnow_slice_budget_bytes() == 1024


def test_winnowing_lsh_screen_no_loss_in_exact_regime(spark):
    """The bottom-k KMV screen is EXACT when |A ∪ B| <= screen_k, so with
    a large screen_k the guarded form returns the identical pair set and
    scores as the unguarded form (verified corpus-wide at sf0.001)."""
    from autonomous_orchestrator_ai_spark.operators.dedup import (
        winnowing_near_duplicates_lsh,
    )
    from autonomous_orchestrator_ai_spark.plans.registry import table

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    base = {
        (r.id_a, r.id_b): (r.shared, r.containment)
        for r in winnowing_near_duplicates_lsh(docs, containment=0.6).collect()
    }
    guarded = {
        (r.id_a, r.id_b): (r.shared, r.containment)
        for r in winnowing_near_duplicates_lsh(
            docs,
            containment=0.6,
            max_bucket_sample=10_000,   # never binds at this scale
            screen_k=100_000,           # |A ∪ B| <= k everywhere -> exact
            screen_cut=(9, 20),
        ).collect()
    }
    assert guarded == base


def test_winnowing_lsh_screen_drops_only_below_cut(spark):
    """With a tiny screen_k the estimate has variance, but pairs it keeps
    always carry exact verify scores (screen affects RECALL, never
    values), and a cut above 1.0 empties the output."""
    from autonomous_orchestrator_ai_spark.operators.dedup import (
        winnowing_near_duplicates_lsh,
    )
    from autonomous_orchestrator_ai_spark.plans.registry import table

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    base = {
        (r.id_a, r.id_b): (r.shared, r.containment)
        for r in winnowing_near_duplicates_lsh(docs, containment=0.6).collect()
    }
    screened = {
        (r.id_a, r.id_b): (r.shared, r.containment)
        for r in winnowing_near_duplicates_lsh(
            docs, containment=0.6, screen_k=8, screen_cut=(9, 20)
        ).collect()
    }
    assert set(screened) <= set(base)
    for pair, scores in screened.items():
        assert scores == base[pair]
    # an impossible cut (num/den = 2.0) screens everything out
    assert (
        winnowing_near_duplicates_lsh(
            docs, containment=0.6, screen_k=64, screen_cut=(2, 1)
        ).count()
        == 0
    )
