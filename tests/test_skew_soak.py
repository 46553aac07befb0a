"""Skew soak for the dedup/ANN guarded paths (VERDICT r2 item 7).

A deliberately skewed corpus — one boilerplate sentence shared by 50% of
docs — and assertions that the guarded form bounds the
candidate/intermediate volume while the unguarded baseline blows up
quadratically. The pinned quantity is the
CANDIDATE-PAIR COUNT, which is deterministic and is precisely what drives
runtime at scale (each candidate is a shuffled+verified row); wall-clock
ratios on shared CI hosts are noise.
"""

import pytest

from autonomous_orchestrator_ai_spark.operators.dedup import ngram_jaccard_pairs

N_DOCS = 400
N_BOILER = 200  # docs carrying the shared boilerplate sentence
BOILER = "all rights reserved terms of service apply contact support for help"


@pytest.fixture(scope="module")
def skewed_docs(spark):
    rows = []
    for i in range(N_DOCS):
        # per-doc unique content: no cross-doc shingles of its own
        body = f"document {i} alpha{i} beta{i} gamma{i} delta{i} epsilon{i}"
        text = f"{body} {BOILER}" if i < N_BOILER else body
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id bigint, text string").persist()


class TestBoilerplateShingleGuard:
    def test_df_cap_bounds_candidate_pairs(self, skewed_docs):
        # threshold=0 keeps EVERY pair sharing >=1 shingle: the candidate
        # set itself, i.e. the work the self-join must shuffle and verify
        unguarded = ngram_jaccard_pairs(
            skewed_docs, shingle_k=3, threshold=0.0
        ).count()
        guarded = ngram_jaccard_pairs(
            skewed_docs, shingle_k=3, threshold=0.0, max_shingle_df=10
        ).count()
        # the boilerplate shingles alone force all C(200,2) pairs
        assert unguarded >= N_BOILER * (N_BOILER - 1) // 2  # >= 19900
        # the df-cap kills the boilerplate join keys entirely: unique
        # per-doc content shares nothing, so no candidates survive
        assert guarded == 0
        assert unguarded / max(guarded, 1) > 100

    def test_guard_preserves_genuine_near_dups(self, spark):
        """The cap must only drop boilerplate-driven pairs: two docs that
        genuinely share non-boilerplate content keep their pair."""
        rows = [(i, f"doc {i} unique{i} filler{i} words{i} {BOILER}")
                for i in range(50)]
        rows.append((100, "real shared content here about spark engines"))
        rows.append((101, "real shared content here about spark engines too"))
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = ngram_jaccard_pairs(
            df, shingle_k=3, threshold=0.2, max_shingle_df=10
        ).collect()
        assert [(r.id_a, r.id_b) for r in out] == [(100, 101)]

