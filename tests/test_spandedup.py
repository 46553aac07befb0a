"""Duplicate-span dedup (operators/spandedup.py) on crafted corpora where
every maximal span and keeper decision is known by hand."""

from __future__ import annotations

from pyspark.sql import Row

from autonomous_orchestrator_ai_spark.operators.spandedup import (
    duplicate_span_doc_stats,
    kgram_occurrences,
    remove_duplicate_spans,
)

K = 4


def _docs(spark, *texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def _words(n, prefix):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_short_docs_emit_no_grams_and_are_never_modified(spark):
    docs = _docs(spark, "a b c", "a b c", _words(6, "u"))
    assert kgram_occurrences(docs, k=K).count() == 3  # only the 6-token doc
    assert remove_duplicate_spans(docs, k=K).count() == 0


def test_adjacent_duplicated_grams_merge_into_one_maximal_span(spark):
    # Docs 0 and 1 share the 6-token run "s0..s5" => three duplicated
    # 4-grams at starts 2,3,4 in doc 0 (offset 1 in doc 1) that must merge
    # into ONE span of union length 6, not three spans of 4.
    shared = _words(6, "s")
    docs = _docs(
        spark,
        f"{_words(2, 'a')} {shared} {_words(2, 'b')}",
        f"{_words(1, 'c')} {shared} {_words(3, 'd')}",
        _words(10, "z"),
    )
    stats = {r["doc_id"]: r for r in duplicate_span_doc_stats(docs, k=K).collect()}
    assert set(stats) == {0, 1}
    assert stats[0]["n_spans"] == 1 and stats[0]["dup_tokens"] == 6
    assert stats[1]["n_spans"] == 1 and stats[1]["dup_tokens"] == 6
    # doc 1 is not the keeper: its span [1, 7) is the one cut out
    out = {r["doc_id"]: r for r in remove_duplicate_spans(docs, k=K).collect()}
    assert set(out) == {1}
    assert out[1]["clean_text"] == "c0 d0 d1 d2"


def test_disjoint_shared_runs_stay_separate_spans(spark):
    run1, run2 = _words(4, "p"), _words(4, "q")
    docs = _docs(
        spark,
        f"{run1} x0 x1 x2 {run2}",
        f"{run2} y0 y1 y2 {run1}",
    )
    stats = {r["doc_id"]: r for r in duplicate_span_doc_stats(docs, k=K).collect()}
    assert stats[0]["n_spans"] == 2 and stats[0]["dup_tokens"] == 8
    assert stats[1]["n_spans"] == 2 and stats[1]["dup_tokens"] == 8


def test_removal_keeps_the_min_doc_copy_and_strips_the_rest(spark):
    shared = _words(4, "s")
    docs = _docs(
        spark,
        f"{shared} a0 a1 a2 a3",   # keeper: untouched, absent from output
        f"b0 {shared} b1 b2 b3",   # loses the 4 shared tokens
        f"{shared} c0 c1 c2 c3",   # also loses them
    )
    out = {r["doc_id"]: r for r in remove_duplicate_spans(docs, k=K).collect()}
    assert set(out) == {1, 2}
    assert out[1]["tokens_before"] == 8 and out[1]["tokens_after"] == 4
    assert out[1]["clean_text"] == "b0 b1 b2 b3"
    assert out[2]["clean_text"] == "c0 c1 c2 c3"


def test_fully_covered_doc_comes_back_empty_not_missing(spark):
    shared = _words(K, "s")
    docs = _docs(spark, f"{shared} tail0 tail1 tail2", shared)
    out = {r["doc_id"]: r for r in remove_duplicate_spans(docs, k=K).collect()}
    assert set(out) == {1}
    assert out[1]["tokens_after"] == 0 and out[1]["clean_text"] == ""


def test_covered_positions_are_distinct_union_of_overlapping_grams(spark):
    shared = _words(6, "s")  # grams at 3 starts overlap; union = 6 positions
    docs = _docs(spark, shared, f"x0 {shared} x1")
    out = {r["doc_id"]: r for r in remove_duplicate_spans(docs, k=K).collect()}
    assert set(out) == {1}
    assert out[1]["tokens_before"] == 8 and out[1]["tokens_after"] == 2
    assert out[1]["clean_text"] == "x0 x1"


def test_intra_doc_repeat_alone_is_not_cross_doc_duplicated(spark):
    rep = _words(K, "r")
    docs = _docs(spark, f"{rep} mid0 mid1 {rep}", _words(8, "o"))
    assert duplicate_span_doc_stats(docs, k=K).count() == 0


def test_case_and_whitespace_normalize_before_matching(spark):
    docs = _docs(spark, "Alpha  Beta\tGamma Delta x0", "alpha beta gamma delta y0")
    stats = duplicate_span_doc_stats(docs, k=K).collect()
    assert {(r["doc_id"], r["n_spans"], r["dup_tokens"]) for r in stats} == {
        (0, 1, 4),
        (1, 1, 4),
    }
    out = {r["doc_id"]: r["clean_text"] for r in remove_duplicate_spans(docs, k=K).collect()}
    assert out == {1: "y0"}


# ---------------------------------------------------------------------------
# Boilerplate removal (no-keeper policy)
# ---------------------------------------------------------------------------

from autonomous_orchestrator_ai_spark.operators.spandedup import (  # noqa: E402
    remove_boilerplate,
)


def test_boilerplate_removed_from_every_doc_including_the_min_id(spark):
    """Unlike span dedup, boilerplate removal has NO keeper: the gram
    disappears from doc 0 too."""
    footer = "all rights reserved"
    docs = _docs(
        spark,
        f"u0 u1 {footer}",
        f"v0 {footer} v1",
        f"{footer} w0 w1",
        f"x0 x1 {footer}",
    )
    out = {
        r["doc_id"]: r for r in remove_boilerplate(docs, k=3, min_df=4).collect()
    }
    assert set(out) == {0, 1, 2, 3}
    for d, r in out.items():
        assert r["tokens_before"] == 5 and r["tokens_after"] == 2
        assert footer not in r["clean_text"], d
    assert out[0]["clean_text"] == "u0 u1"
    assert out[1]["clean_text"] == "v0 v1"


def test_boilerplate_below_min_df_survives(spark):
    shared = "terms of service"
    docs = _docs(spark, f"a0 {shared}", f"b0 {shared}", "c0 c1 c2 c3")
    # df=2 < min_df=4 -> nothing removed, no rows returned (delta output)
    assert remove_boilerplate(docs, k=3, min_df=4).count() == 0
    # df=2 >= min_df=2 -> removed everywhere
    out = {
        r["doc_id"]: r for r in remove_boilerplate(docs, k=3, min_df=2).collect()
    }
    assert set(out) == {0, 1}
    assert out[0]["clean_text"] == "a0" and out[1]["clean_text"] == "b0"


def test_release_leaves_no_corpus_scale_blocks_pinned(spark):
    """r8: after a span/boilerplate call returns, the only persisted
    blocks are the RESULT's own — the corpus-scale occurrence cache is
    unpersisted. The r7 footgun was each call stacking another occurrence
    table in executor storage for the session lifetime."""
    from autonomous_orchestrator_ai_spark.session import (
        release_session_storage,
    )

    release_session_storage(spark)
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() == 0

    shared = "terms of service apply here"
    docs = _docs(spark, f"a0 {shared}", f"b0 {shared}", "c0 c1 c2 c3")
    out = remove_boilerplate(docs, k=3, min_df=2)
    # exactly the materialized result remains pinned; caller owns it
    assert jsc.getPersistentRDDs().size() == 1
    assert out.count() == 2  # still readable from its own cache
    out.unpersist()
    assert jsc.getPersistentRDDs().size() == 0
    out2 = remove_duplicate_spans(docs, k=3)
    assert jsc.getPersistentRDDs().size() == 1
    out2.unpersist()
    assert jsc.getPersistentRDDs().size() == 0
