"""BPE trainer unit tests (operators/bpe.py) — the registered queries are
hash-exact vs the unrolled-SQL oracle (plans/bpe_queries.py); these pin
the merge semantics on hand-computable corpora, especially the
left-to-right non-overlap rule the delimited-replace encoding relies on,
and check that bpe_train's driver and distributed routes agree.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from hypothesis import given, settings
from hypothesis import strategies as st

from autonomous_orchestrator_ai_spark.operators import bpe
from autonomous_orchestrator_ai_spark.operators.bpe import (
    DSEP,
    bpe_apply_merge,
    bpe_initial_state,
    bpe_pair_counts,
    bpe_segment,
    bpe_train,
    bpe_word_counts,
)
from autonomous_orchestrator_ai_spark.plans.registry import table

#: the committed copy of the sf0.001 fixture tables
SF0001 = str(Path(__file__).resolve().parent.parent / "perfbench" / "data" / "sf0.001")


def _seq(*symbols):
    """Build the double-separator symbolization for a symbol list."""
    return DSEP + DSEP.join(symbols) + DSEP


def _py_bpe_segment(word, merges):
    """Pure-Python Sennrich reference: apply each merge over the symbol
    list, leftmost non-overlapping, rescanning after each merged pair."""
    syms = list(word)
    for _, a, b, _ in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _docs(spark, texts):
    return spark.createDataFrame([(t,) for t in texts], "text string")


def _train_both_routes(monkeypatch, docs, n_merges):
    """(driver-route merges, distributed-route merges) for one corpus; a
    bound of 0 forces every vocabulary onto the distributed loop."""
    driver = bpe_train(docs, "text", n_merges)
    with monkeypatch.context() as m:
        m.setattr(bpe, "DRIVER_VOCAB_MAX", 0)
        distributed = bpe_train(docs, "text", n_merges)
    assert driver == distributed
    return driver


def test_word_counts_normalize_and_filter(spark):
    wc = {r["word"]: r["cnt"] for r in bpe_word_counts(
        _docs(spark, ["Low low! lower", "low-er low"])
    ).collect()}
    # "Low"->"low"; "low!" and "low-er" fail ^[a-z0-9]+$ and drop
    assert wc == {"low": 2, "lower": 1}


def test_pair_counts_weighted(spark):
    wc = _docs(spark, ["ab ab ab cd"])
    pc = {(r["a"], r["b"]): r["cnt"] for r in
          bpe_pair_counts(bpe_initial_state(
              bpe_word_counts(wc))).collect()}
    assert pc == {("a", "b"): 3, ("c", "d"): 1}


def test_apply_merge_left_to_right_non_overlapping(spark):
    state = spark.createDataFrame(
        [(_seq("a", "a", "a"), 1)], "seq string, cnt long"
    )
    out = bpe_apply_merge(state, "a", "a").collect()[0]["seq"]
    # "aaa" merges the LEFTMOST pair only: [aa, a], never [a, aa]
    assert out == _seq("aa", "a")


def test_apply_merge_is_symbol_anchored(spark):
    # state [b, an, d] + merge (n, d): 'n' is only the SUFFIX of symbol
    # 'an' — must NOT merge across the boundary into [b, and]
    state = spark.createDataFrame(
        [(_seq("b", "an", "d"), 1)], "seq string, cnt long"
    )
    out = bpe_apply_merge(state, "n", "d").collect()[0]["seq"]
    assert out == _seq("b", "an", "d")


def test_apply_merge_chains_adjacent_occurrences(spark):
    # Sennrich order on a run: 'aaaaa' + (a,a) -> [aa, aa, a] in ONE pass
    # (single-separator encodings miss the occurrence right after a
    # replaced one and produce [aa, a, aa])
    state = spark.createDataFrame(
        [(_seq(*"aaaaa"), 1)], "seq string, cnt long"
    )
    out = bpe_apply_merge(state, "a", "a").collect()[0]["seq"]
    assert out == _seq("aa", "aa", "a")


def test_train_pins_known_merges(spark, monkeypatch, routes):
    # 5x "abab", 2x "abc": pairs round1 -> (a,b):12, (b,a):5, (b,c):2
    docs = _docs(spark, ["abab abab abab abab abab abc abc"])
    merges = _train_both_routes(monkeypatch, docs, 3)
    assert merges[0][1:] == ("a", "b", 12)
    # after merging 'ab': "ab|ab" -> pair (ab,ab):5 ; "ab|c" -> (ab,c):2
    assert merges[1][1:] == ("ab", "ab", 5)
    assert merges[2][1:] == ("ab", "c", 2)
    # a 2-word vocabulary: the driver loop under the default bound, the
    # distributed loop under a bound of 0 (which reads one row past it)
    driver, distributed = routes("bpe_merge_loop")
    assert (driver["estimate"], driver["chosen"]) == (2, "driver")
    assert driver["budget"] == bpe.DRIVER_VOCAB_MAX
    assert (distributed["estimate"], distributed["chosen"]) == (1, "distributed")
    assert distributed["budget"] == 0


def test_segment_applies_merges_in_order(spark):
    merges = [(1, "a", "b", 0), (2, "ab", "c", 0)]
    df = spark.createDataFrame([("abcd",), ("xaby",)], "word string")
    got = {r["word"]: r["bpe_tokens"] for r in
           bpe_segment(df, "word", merges).collect()}
    assert got["abcd"] == ["abc", "d"]
    assert got["xaby"] == ["x", "ab", "y"]


def test_segment_band_regression(spark):
    # the ADVICE.md case: 'band' with merges (a,n) then (n,d) must yield
    # [b, an, d] — the (n,d) merge may not fire inside symbol 'an'
    merges = [(1, "a", "n", 0), (2, "n", "d", 0)]
    df = spark.createDataFrame([("band",)], "word string")
    got = bpe_segment(df, "word", merges).collect()[0]["bpe_tokens"]
    assert got == ["b", "an", "d"]


@settings(max_examples=25, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=8),
        min_size=1, max_size=4,
    ),
    merges=st.lists(
        st.tuples(
            st.text(alphabet="abc", min_size=1, max_size=2),
            st.text(alphabet="abc", min_size=1, max_size=2),
        ),
        min_size=1, max_size=4,
    ),
)
def test_segment_matches_pure_python_sennrich(spark, words, merges):
    ranked = [(i + 1, a, b, 0) for i, (a, b) in enumerate(merges)]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {r["word"]: r["bpe_tokens"]
           for r in bpe_segment(df, "word", ranked).collect()}
    for w in words:
        assert got[w] == _py_bpe_segment(w, ranked), (w, ranked)


def test_train_early_stop_on_single_chars(spark, monkeypatch):
    # every word is one char: no pairs -> zero merges, no crash
    assert _train_both_routes(monkeypatch, _docs(spark, ["a b c a"]), 4) == []


@pytest.mark.parametrize(
    "text, n_merges, expected",
    [
        # four pairs of count 1: ordered by a first, then by b
        ("ba az xb xa", 4,
         [(1, "a", "z", 1), (2, "b", "a", 1), (3, "x", "a", 1),
          (4, "x", "b", 1)]),
        # each merge builds on the previous one's symbols; the run stops
        # early once every word is one symbol
        ("aaaa aaaaa", 5,
         [(1, "a", "a", 7), (2, "aa", "aa", 2), (3, "aaaa", "a", 1)]),
    ],
    ids=["tie_break", "chaining"],
)
def test_train_routes_agree(spark, monkeypatch, text, n_merges, expected):
    assert _train_both_routes(monkeypatch, _docs(spark, [text]), n_merges) == expected


def test_train_routes_agree_on_documents(spark, monkeypatch):
    docs = table(spark, SF0001, "documents")
    assert len(_train_both_routes(monkeypatch, docs, 8)) == 8


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_route_runs_one_corpus_job_per_training(spark, monkeypatch):
    docs = table(spark, SF0001, "documents")
    default = _jobs_in_group(
        spark, "bpe-route-driver", lambda: bpe_train(docs, "text", 8)
    )
    monkeypatch.setattr(bpe, "DRIVER_VOCAB_MAX", 0)
    forced = _jobs_in_group(
        spark, "bpe-route-distributed", lambda: bpe_train(docs, "text", 8)
    )
    # the corpus aggregation + its checkpoint, then one collect
    assert default <= 3
    # at least one top-1 collect per merge round
    assert forced > 8


# ---------------------------------------------------------------------------
# Corpus encode (bpe_word_encodings / bpe_doc_token_counts)
# ---------------------------------------------------------------------------

from autonomous_orchestrator_ai_spark.operators.bpe import (  # noqa: E402
    bpe_doc_token_counts,
    bpe_word_encodings,
)


def test_encode_table_ids_and_counts(spark):
    docs = spark.createDataFrame(
        [(0, "abab abab cc"), (1, "abab !! cc")], ["doc_id", "text"]
    )
    merges = bpe_train(docs, "text", n_merges=2)
    # merge 1: (a, b) cnt 6 -> 'ab' id 257; merge 2 by tie-break (a,b) asc
    assert (merges[0][1], merges[0][2]) == ("a", "b")
    enc = {r["word"]: r for r in bpe_word_encodings(docs, merges).collect()}
    assert set(enc) == {"abab", "cc"}
    ab_id = 256 + merges[0][0]
    if (merges[1][1], merges[1][2]) == ("ab", "ab"):
        abab_id = 256 + merges[1][0]
        assert enc["abab"]["n_sub"] == 1
        assert enc["abab"]["ids_str"] == str(abab_id)
    else:
        assert enc["abab"]["ids_str"].split() == [str(ab_id)] * 2
    # single chars are codepoints
    assert enc["cc"]["ids_str"].split()[0] in (str(ord("c")), str(256 + 2))


def test_doc_token_counts_exact_with_unk_fallback(spark):
    docs = spark.createDataFrame(
        [(0, "abab abab cc"), (1, "abab !! cc")], ["doc_id", "text"]
    )
    merges = bpe_train(docs, "text", n_merges=2)
    enc = {r["word"]: r["n_sub"] for r in bpe_word_encodings(docs, merges).collect()}
    got = {r["doc_id"]: r for r in bpe_doc_token_counts(docs, merges).collect()}
    assert got[0]["n_words"] == 3 and got[0]["n_oov_words"] == 0
    assert got[0]["n_tokens"] == 2 * enc["abab"] + enc["cc"]
    assert got[1]["n_words"] == 3 and got[1]["n_oov_words"] == 1  # '!!'
    assert got[1]["n_tokens"] == enc["abab"] + 1 + enc["cc"]
