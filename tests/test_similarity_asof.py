"""Similarity-search and as-of-join operator tests."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.asof import asof_join
from autonomous_orchestrator_ai_spark.operators.similarity import (
    cosine_topk,
    embedding_near_duplicates,
    lsh_bucketed_topk,
    rank_topk,
)


@pytest.fixture()
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),   # opposite of 0
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_matches_numpy(vectors):
    out = cosine_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=4)
    rows = sorted([(r["rank"], r["neighbor_id"], r["cosine_sim"]) for r in out.collect()])
    vecs = {0: [1, 0, 0, 0], 1: [0.99, 0.1, 0, 0], 2: [0, 1, 0, 0], 3: [0, 0, 1, 0], 4: [-1, 0, 0, 0]}

    def cos(a, b):
        a, b = np.array(a, float), np.array(b, float)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    assert [r[1] for r in rows] == [1, 2, 3, 4]  # rank order
    for _, nid, sim in rows:
        assert math.isclose(sim, round(cos(vecs[0], vecs[nid]), 6), abs_tol=1e-6)


def test_rank_topk_policy(spark):
    """The ranking tail every vector-search operator shares: exact score
    ties rank by ascending neighbor_id; two scores that round to the same
    6-dp value rank by the UNROUNDED score; rank is bigint; the other
    columns keep their order ahead of the rounded score and rank."""
    scored = spark.createDataFrame(
        [
            (1, "a", 30, 0.5),
            (1, "b", 10, 0.5),  # exact tie with 30: the lower id ranks first
            (1, "c", 20, 0.1234562),  # rounds to 0.123456 ...
            (1, "d", 5, 0.1234558),  # ... so does this, ranked below 20
            (1, "e", 40, 0.01),  # past k
            (2, "f", 7, 0.9),
        ],
        "query_id bigint, tag string, neighbor_id bigint, __sim double",
    )
    out = rank_topk(scored, k=4)
    assert out.dtypes == [
        ("query_id", "bigint"),
        ("tag", "string"),
        ("neighbor_id", "bigint"),
        ("cosine_sim", "double"),
        ("rank", "bigint"),
    ]
    assert [tuple(r) for r in out.orderBy("query_id", "rank").collect()] == [
        (1, "b", 10, 0.5, 1),
        (1, "a", 30, 0.5, 2),
        (1, "c", 20, 0.123456, 3),
        (1, "d", 5, 0.123456, 4),
        (2, "f", 7, 0.9, 1),
    ]


def test_lsh_recall_on_testdata(spark):
    """LSH ANN vs brute force on the real embeddings table: recall@5 >= 0.6
    with 8 planes + 1-bit multiprobe."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=5)
    approx = lsh_bucketed_topk(emb, queries, k=5, n_planes=4, n_tables=4, dim=64)
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"recall {recall}"


def test_screen_multiprobe_route_boundaries():
    """The corpus-wide screen's probe set is cost-routed (r9, VERDICT r8
    item 6): 1-bit flips engage exactly when the priced multiprobe
    fan-out (n x tables x (1+planes) x cap x 20 B) fits the budget — ON
    at the sf0.1-like scales where own-bucket probing is starved
    (recall@5 floor 0.348), OFF from ~sf1 up where flips multiply screen
    work ~(1+planes)x. Pure integer arithmetic, replayed verbatim by the
    DuckDB oracle builder."""
    from autonomous_orchestrator_ai_spark.operators.similarity import (
        auto_planes,
    )
    from autonomous_orchestrator_ai_spark.plans.ml_queries import (
        _screen_multiprobe_route,
    )

    # sf0.01 (500 vecs) and sf0.1 (2k vecs): starved regime, route ON
    assert _screen_multiprobe_route(500, auto_planes(500)) is True
    assert _screen_multiprobe_route(2_000, auto_planes(2_000)) is True
    # sf1 (20k) and the corpus-scaled screens: route OFF
    assert _screen_multiprobe_route(20_000, auto_planes(20_000)) is False
    assert _screen_multiprobe_route(200_000, auto_planes(200_000)) is False


def test_rescore_after_dedup_bit_identical(spark):
    """``rescore_after_dedup`` is a performance-only route (r9): scoring
    once per unique pair via broadcast re-attach must produce EXACTLY the
    rows of the per-collision scoring — same pairs, same 6dp sims, same
    ranks — in the screen's own configuration (corpus-scaled self-query,
    shuffled bucket join, cap, 1-bit multiprobe)."""
    from autonomous_orchestrator_ai_spark.operators.similarity import (
        auto_planes,
    )
    from autonomous_orchestrator_ai_spark.plans.ml_queries import (
        _SCREEN_BUCKET_CAP,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    planes = auto_planes(emb.count())

    def run(rescore):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"])
            for r in lsh_bucketed_topk(
                emb, emb, k=5, n_planes=planes, n_tables=4,
                broadcast_queries=False, multiprobe_bits=1,
                max_bucket_candidates=_SCREEN_BUCKET_CAP,
                rescore_after_dedup=rescore,
            ).collect()
        )

    assert run(True) == run(False)


def test_screen_rescore_route_boundaries():
    """The broadcast re-attach is only safe while the vector tables fit
    executor memory: ON through ~sf1 corpora, OFF at the 200k-vector
    screen scale where the r6 measurement showed any vector re-fetch
    (shuffle form) costing ~74 GB of sort spill."""
    from autonomous_orchestrator_ai_spark.plans.ml_queries import (
        _screen_rescore_route,
    )

    assert _screen_rescore_route(2_000) is True
    assert _screen_rescore_route(20_000) is True
    assert _screen_rescore_route(200_000) is False


def test_screen_multiprobe_lifts_small_corpus_recall(spark):
    """The routed flips exist to lift the small-corpus recall floor: on
    the sf0.001 embeddings with the screen's exact configuration (auto
    planes, cap 64), 1-bit multiprobe must find a strict superset of the
    own-bucket screen's exact-top-5 hits."""
    from autonomous_orchestrator_ai_spark.operators.similarity import (
        auto_planes,
    )
    from autonomous_orchestrator_ai_spark.plans.ml_queries import (
        _SCREEN_BUCKET_CAP,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    planes = auto_planes(n)
    q = emb.filter(F.col("vec_id") < 50)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, q, k=5).collect()
    }

    def hits(bits):
        found = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_bucketed_topk(
                emb, q, k=5, n_planes=planes, n_tables=4,
                multiprobe_bits=bits,
                max_bucket_candidates=_SCREEN_BUCKET_CAP,
            ).collect()
        }
        return len(found & exact)

    own, probed = hits(0), hits(1)
    assert probed > own, (own, probed)


def test_embedding_near_duplicates(spark):
    pad = [0.0] * 62  # the screen's 64-dim vectors
    rows = [
        (0, [1.0, 0.0] + pad),
        (1, [0.999, 0.01] + pad),
        (2, [0.0, 1.0] + pad),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = embedding_near_duplicates(df, threshold=0.99)
    got = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    assert got == [(0, 1)]


def test_embedding_near_duplicates_finds_planted_copies_once(spark):
    """The multi-table screen finds planted near-identical copies, and a
    pair colliding in several tables is emitted once."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((30, 64))
    rows = [(i, base[i].tolist()) for i in range(30)]
    # plant near-identical copies of vectors 3 and 11
    rows += [(100, (base[3] + 1e-4).tolist()), (101, (base[11] - 1e-4).tolist())]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    flat = [
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(df, threshold=0.9).collect()
    ]
    assert (3, 100) in flat and (11, 101) in flat
    # dropDuplicates: each pair once
    assert len(flat) == len(set(flat))


# -- as-of join -------------------------------------------------------------


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (1, 5, "l0"), (2, 10, "l3")],
        ["k", "ts", "lv"],
    )
    right = spark.createDataFrame(
        [(1, 10, "r10"), (1, 15, "r15"), (3, 1, "r_other")],
        ["k", "ts", "rv"],
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts", right_cols=["rv"])
    got = {(r["k"], r["ts"]): (r["ts_asof"], r["rv_asof"]) for r in out.collect()}
    assert got[(1, 10)] == (10, "r10")   # inclusive <=: exact tie matches
    assert got[(1, 20)] == (15, "r15")   # latest at-or-before
    assert got[(1, 5)] == (None, None)   # nothing before -> NULLs kept
    assert got[(2, 10)] == (None, None)  # no right rows for key
    assert out.count() == left.count()   # left-outer: every left row survives


def test_asof_join_null_right_value_not_mixed(spark):
    """A genuinely-NULL right column must not be backfilled from an older
    right row (struct-carry regression test)."""
    left = spark.createDataFrame([(1, 30)], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, 10, "old"), (1, 20, None)], ["k", "ts", "rv"]
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts", right_cols=["rv"])
    row = out.collect()[0]
    assert row["ts_asof"] == 20
    assert row["rv_asof"] is None        # NOT "old"


def test_centroid_outliers_flags_planted_outlier(spark):
    from autonomous_orchestrator_ai_spark.operators.similarity import (
        centroid_outliers,
    )
    # label 0: three tight vectors + one far point; label 1: two points
    rows = [
        (1, [0.0, 0.0], 0),
        (2, [0.1, 0.0], 0),
        (3, [0.0, 0.1], 0),
        (4, [9.0, 9.0], 0),   # planted outlier
        (5, [1.0, 1.0], 1),
        (6, [3.0, 1.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    got = centroid_outliers(df, k=2).collect()
    by_label = {}
    for r in got:
        by_label.setdefault(r.label, []).append(r)
    # rank 1 for label 0 is the planted point, by a wide margin
    l0 = sorted(by_label[0], key=lambda r: r.rank)
    assert l0[0].vec_id == 4 and l0[0].centroid_dist > 5
    assert l0[1].centroid_dist < 4
    # label 1 is symmetric around the centroid: equidistant, tie -> id asc
    l1 = sorted(by_label[1], key=lambda r: r.rank)
    assert [r.vec_id for r in l1] == [5, 6]
    assert l1[0].centroid_dist == l1[1].centroid_dist == 1.0


def test_auto_planes_bucket_sizing():
    from autonomous_orchestrator_ai_spark.operators.similarity import auto_planes

    # at or below the target bucket size: the floor (oracle-pinned scales)
    assert auto_planes(0) == 4
    assert auto_planes(64) == 4
    assert auto_planes(500) == 4  # ceil(log2(500/64)) = 3 -> floored to 4
    # expected bucket size n / 2^planes stays <= target once above the floor
    for n in (2_000, 20_000, 200_000, 2_000_000, 10**9):
        p = auto_planes(n)
        assert n / 2**p <= 64, (n, p)
        # but not overly aggressive: one fewer plane would exceed the target
        assert n / 2 ** (p - 1) > 64 or p == 4, (n, p)
    # monotone non-decreasing in corpus size
    sizes = [10, 100, 1_000, 10_000, 100_000, 1_000_000]
    planes = [auto_planes(n) for n in sizes]
    assert planes == sorted(planes)
    assert auto_planes(20_000) == 9  # the measured sf1 configuration


def test_lsh_hot_bucket_cap_bounds_candidates_deterministically(spark):
    """max_bucket_candidates: a degenerate corpus (all vectors identical
    -> one bucket per table) must produce at most cap candidates per
    query, the kept subset must be the deterministic md5-draw sample,
    and two runs must agree exactly."""
    import hashlib

    from pyspark.sql import Row

    from autonomous_orchestrator_ai_spark.operators.similarity import (
        lsh_bucketed_topk,
    )

    n, cap = 40, 8
    vec = [1.0] * 8 + [0.0] * 56
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=vec) for i in range(n)]
    )
    out = lsh_bucketed_topk(
        emb, emb.filter("vec_id = 0"), k=50, n_planes=4, n_tables=1,
        dim=64, multiprobe_bits=0, max_bucket_candidates=cap,
    ).collect()
    # every vector collides in the single bucket; the cap keeps 8, and
    # excluding self leaves 8 or 7 neighbors depending on whether vec 0
    # survived its own bucket's draw. The draw is bucket-salted (r8), so
    # the expected sample replays md5('lshcap:' || table || '|' || bucket
    # || '|' || id) with the actual bucket value of the shared vector.
    import numpy as np

    from autonomous_orchestrator_ai_spark.operators.similarity import (
        hyperplanes,
    )

    planes = hyperplanes(64, 4, 42)  # table 0's planes at the default seed
    bucket = sum(
        (1 << p) for p, pl in enumerate(planes) if float(np.dot(vec, pl)) >= 0
    )
    expected_kept = sorted(
        range(n),
        key=lambda i: (
            hashlib.md5(f"lshcap:0|{bucket}|{i}".encode()).hexdigest(),
            i,
        ),
    )[:cap]
    expect_neighbors = {i for i in expected_kept if i != 0}
    assert {r["neighbor_id"] for r in out} == expect_neighbors
    again = lsh_bucketed_topk(
        emb, emb.filter("vec_id = 0"), k=50, n_planes=4, n_tables=1,
        dim=64, multiprobe_bits=0, max_bucket_candidates=cap,
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
