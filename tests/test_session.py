"""The session factory keeps a long-lived session's generated classes: a
steady pass over the benchmark's query suite recompiles (almost) none."""

from __future__ import annotations

from pathlib import Path

from autonomous_orchestrator_ai_spark.plans import registry
from autonomous_orchestrator_ai_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compiles,
    release_session_storage,
)

SF = str(Path(__file__).resolve().parent.parent / "perfbench" / "data" / "sf0.001")
SUITE = ("bpe_learned_merges", "pq_ann_topk", "kmv_token_jaccard_by_source")
#: Classes the second pass of kmv_token_jaccard_by_source may still compile.
#: AQE numbers a query's codegen stages in the order its stages start, which
#: follows which earlier stages finished first, and the number is part of
#: each generated class's name. Warm passes at sf0.001 compiled 0-18 of its
#: 56 classes; the other two queries compile none. With Spark's default
#: cache of 100 entries the second pass recompiled 67 classes over the three.
KMV_STEADY_MAX_COMPILES = 24


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_suite_steady_pass_reuses_generated_classes(spark):
    registry.load_all()

    def one_pass() -> dict[str, int]:
        compiles = {}
        for name in SUITE:
            before = codegen_compiles(spark)[0]
            try:
                registry.QUERIES[name](spark, SF).collect()
            finally:
                release_session_storage(spark)
            compiles[name] = codegen_compiles(spark)[0] - before
        return compiles

    first = one_pass()
    second = one_pass()
    kmv = second.pop("kmv_token_jaccard_by_source")
    assert second == {"bpe_learned_merges": 0, "pq_ann_topk": 0}, (first, second)
    assert kmv <= KMV_STEADY_MAX_COMPILES, (first, kmv)
