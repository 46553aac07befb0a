"""Similarity search over embedding columns (BASELINE.json north star).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline. The
  query set is broadcast (it's small by construction); the corpus is scanned
  once; per-pair cosine is a JVM-side higher-order-function expression
  (zip_with + aggregate over double arrays — no Python, no UDF); top-k per
  query via window rank.
- ``lsh_bucketed_topk``: the scale path — deterministic random-hyperplane
  LSH: corpus and queries are bucketed by sign-pattern; candidates come only
  from matching buckets (multi-probe over the query's own bucket plus
  1-bit-flip neighbors), then exact cosine re-ranks. At 100 TB the bucket
  join replaces the full cross product; recall is tunable via planes/probes.

Hyperplanes are generated from a seeded NumPy RNG on the driver and embedded
as literal arrays — deterministic across runs, no SciPy dependency.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions.literals import sql_array
from autonomous_orchestrator_ai_spark.operators.partitioning import (
    ensure_min_parallelism,
    repartition_for_exploding_join,
)


def _as_double_array(col: str | F.Column) -> F.Column:
    col = F.col(col) if isinstance(col, str) else col
    return col.cast("array<double>")


def dot(a: F.Column, b: F.Column) -> F.Column:
    """Element dot product via zip_with + aggregate (index-order fold —
    deterministic, matching an ORDER-BY-index SQL re-computation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: F.Column, b: F.Column) -> F.Column:
    return dot(a, b) / (norm(a) * norm(b))


def rank_topk(
    scored: DataFrame, k: int, score: str = "__sim", out: str = "cosine_sim"
) -> DataFrame:
    """The one per-query ranking policy of the vector-search operators:
    rank by ``score`` descending, ties by ``neighbor_id`` ascending; keep
    ranks 1..k as a bigint ``rank``. ``scored`` carries ``query_id``,
    ``neighbor_id`` and ``score``; the output keeps every other column in
    its order, then ``round(score, 6)`` as ``out``, then ``rank`` — the
    ranking itself sees the unrounded score."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            *[c for c in scored.columns if c != score],
            F.round(score, 6).alias(out),
            "rank",
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors: (query_id, neighbor_id, cosine_sim,
    rank); a query is never its own neighbor. Ties broken by neighbor id;
    cosine rounded to 6dp in the output (ranking uses the unrounded
    value)."""
    query_id_col = query_id_col or id_col
    # norms hoisted to one fold per ROW (bit-identical to per-pair
    # cosine(): same dot/(|q|*|c|) expression, just not recomputed per
    # pair — the corpus-side norm folds once per corpus row instead of
    # once per (corpus row x query))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double_array(vec_col).alias("__qv"),
    ).withColumn("__qn", norm(F.col("__qv")))
    c = ensure_min_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        _as_double_array(vec_col).alias("__cv"),
    ).withColumn("__cn", norm(F.col("__cv")))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("__qv"), F.col("__cv"))
            / (F.col("__qn") * F.col("__cn"))
        ).alias("__sim"),
    )
    return rank_topk(scored, k)


#: base seed of the LSH hyperplanes: table t draws from LSH_SEED + 1000 * t.
LSH_SEED = 42
#: tables and dimension of the embedding near-duplicate screens.
NEAR_DUP_TABLES = 4
NEAR_DUP_DIM = 64


def hyperplanes(dim: int, n_planes: int, seed: int = LSH_SEED) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (driver-side, embedded as
    literals)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def signbit_buckets(
    vec: F.Column, tables_planes: list[list[list[float]]]
) -> F.Column:
    """Per-table sign-pattern bucket ids for ALL hash tables in one
    expression: returns ``array<bigint>`` of length ``n_tables`` where
    bit p of element t is set iff vec · plane[t][p] >= 0.

    Built as one nested fold over a single flattened plane-matrix literal
    instead of n_tables · n_planes independent zip_with/aggregate trees:
    the old form cost ~0.4 s of driver-side Column construction PER TABLE
    (py4j lambda round-trips) and produced an analysis tree that grew
    linearly in tables × planes; this one is O(1) lambdas regardless of
    table/plane count. Bucket values are identical (bit p ↔ 2**p).
    """
    n_tables = len(tables_planes)
    n_planes = len(tables_planes[0])
    # ONE parsed literal for the whole plane matrix: building it as
    # n_tables*n_planes separate F.lit(list) columns costs ~0.6s of py4j
    # round-trips; one F.expr parse of the same values costs ~7ms
    flat = F.expr(
        sql_array(
            [plane for planes in tables_planes for plane in planes], "double"
        )
    )

    def table_bucket(t: F.Column) -> F.Column:
        # fold planes high-bit → low-bit: acc*2 + sign_bit == Σ bit_p · 2^p
        def step(acc: F.Column, p: F.Column) -> F.Column:
            plane = F.element_at(flat, (t * n_planes + p + 1).cast("int"))
            return acc * F.lit(2).cast("bigint") + (
                dot(vec, plane) >= 0
            ).cast("bigint")

        return F.aggregate(
            F.sequence(F.lit(n_planes - 1), F.lit(0), F.lit(-1)),
            F.lit(0).cast("bigint"),
            step,
        )

    return F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)), table_bucket
    )


#: query sets at or under this row count are safely broadcastable as
#: exploded probes (4096 rows x 4 tables x ~13 probes x 64 doubles is
#: ~110 MB — inside spark's broadcast comfort zone); bigger sets
#: shuffle-join on (table, bucket)
_BROADCAST_Q_MAX = 4096


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_bits: int = 1,
    broadcast_queries: bool | None = None,
    max_bucket_candidates: int | None = None,
    rescore_after_dedup: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates restricted to LSH bucket collisions.

    ``max_bucket_candidates``: HOT-BUCKET GUARD (the similarity twin of
    dedup.py's ``max_bucket_sample``/``max_shingle_df``). auto_planes holds
    the EXPECTED bucket size constant, but expectation is not a bound:
    a corpus with mass near-duplication (the realistic 100 TB shape — the
    sf100 probe's synthetic corpus carries ~1000 near-copies per base
    vector) concentrates whole duplicate clusters into single buckets,
    and the bucket join's output grows with the SQUARE of the hot
    bucket's size (measured: >78 GB of shuffle spill at sf100 with no
    cap). With a cap, each (table, bucket) keeps a deterministic
    per-bucket sample — the ``max_bucket_candidates`` rows with the
    smallest md5('lshcap:' || table || '|' || bucket || '|' || id) draw
    (bucket-salted, r8: an unsalted draw is perfectly correlated across
    buckets, so one unlucky doc would be evicted from EVERY hot bucket
    it occupies) — so join output per query is bounded by
    n_tables x cap regardless of skew, recall inside a hot bucket
    degrades gracefully (a uniform subset of near-identical candidates
    still surfaces the cluster), and the same QUALIFY clause replays in
    the DuckDB oracle. None = uncapped (serving-sized corpora, pinned
    oracle anchors).

    Classic multi-table LSH: ``n_tables`` independent sets of ``n_planes``
    hyperplanes (few planes per table keeps per-table collision probability
    high; multiple tables drive recall toward 1 - (1-p)^L). Queries probe
    their own bucket per table plus every bucket within ``multiprobe_bits``
    bit flips. The join is equi on (table, bucket) — a shuffle on a small
    key instead of a cross product; exact cosine re-ranks candidates.

    Index cost at scale: the corpus is replicated n_tables times in the
    bucketed index (standard LSH space/recall trade); probe cost per query
    is n_tables * (1 + n_planes * multiprobe) bucket lookups.

    ``broadcast_queries`` picks the bucket-join strategy (result is
    identical either way): True hints a broadcast of the exploded probe
    side — right for a SMALL query set against a big corpus (the serving
    shape); False shuffles both sides on (table, bucket) — REQUIRED when
    the query set is corpus-scaled (e.g. every-vector-a-query screens),
    where the probe side is n_queries x n_tables x (1 + n_planes) rows of
    dim-length arrays and a forced broadcast is a multi-GB driver build
    that grows with the corpus (measured at sf10: 200k self-queries, 12
    auto planes -> ~10.4M exploded probe rows; the broadcast plan ran
    2x slower than the shuffle plan and climbs with n). None (default)
    decides with a bounded probe: broadcast only when the query count is
    confirmed <= ``_BROADCAST_Q_MAX`` by a LIMIT-guarded count (never a
    full count of an unbounded query set).

    ``rescore_after_dedup`` (r9): score each unique (query, neighbor)
    pair ONCE instead of once per (table, probe) collision. Multiprobe
    multiplies collisions by (1 + n_planes) and multi-table by n_tables,
    so the same pair is dot-producted up to n_tables x (1 + n_planes)
    times before dropDuplicates discards the copies; with this flag the
    collision join carries only ids (vectors prune out of the bucket
    join entirely), pairs dedup map-side first, and the vectors are
    re-attached by BROADCAST joins against the two base tables for one
    scoring pass. The result is bit-identical (same dot/(|q||c|) fold
    over the same vectors, same unique pair set) — only the evaluation
    count changes — so no oracle is affected. CALLER-ROUTED because the
    re-attach broadcasts both vector tables: only safe when the caller
    knows the corpus fits a broadcast (the corpus-scaled screen at small
    sf); at large n the broadcast build would dominate and the map-side
    per-collision scoring (which never shuffles a vector) stays the
    right plan — the measured r6 alternative, a shuffle re-fetch,
    spilled ~74 GB of sort at sf10 and is never worth it.

    PRECONDITION (ADVICE r9): ``id_col`` must be unique in both corpus
    and queries for the two branches to stay row-identical — duplicate
    id rows fan out through the re-attach joins into multiple rows per
    (query_id, neighbor_id), where the per-collision path collapses
    them via its dropDuplicates. Every caller passes primary-key'd
    vector tables (vec_id); a caller with non-unique ids must
    dropDuplicates([id_col]) both sides first."""
    c_base = ensure_min_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double_array(vec_col).alias("__cv")
    )
    q_base = queries.select(
        F.col(id_col).alias("query_id"), _as_double_array(vec_col).alias("__qv")
    )

    # ONE corpus scan, ONE bucket expression: every table's bucket comes out
    # of a single nested-fold array (signbit_buckets) and posexplode turns
    # (row, [b_0..b_T]) into (row, table_id, bucket). A union per table
    # would re-scan and re-hash; per-table expressions would re-build the
    # whole driver-side tree per table.
    #
    # Vectors travel THROUGH the bucket join so scoring is map-side in
    # the join stage — no per-pair shuffle ever carries two dim-length
    # arrays (a dedup-then-refetch shape was tried and spilled ~74 GB of
    # SMJ sort at sf10: unique pairs x two 64-double vectors is a
    # corpus-scaled wide shuffle). Norms are HOISTED to one fold per
    # bucket row before the join — per candidate the only vector fold is
    # the dot product, and dot/(|q|*|c|) is bit-identical to cosine()
    # (same operations, same order, just not recomputed per pair); at
    # sf10 that alone cut the screen's scoring stage ~3x.
    all_planes = [
        hyperplanes(dim, n_planes, LSH_SEED + 1000 * t) for t in range(n_tables)
    ]
    if broadcast_queries is None:
        # bounded probe: LIMIT caps the scan, so deciding never costs a
        # full pass over a corpus-scaled query set
        broadcast_queries = (
            q_base.limit(_BROADCAST_Q_MAX + 1).count() <= _BROADCAST_Q_MAX
        )
    c = c_base.select(
        "neighbor_id",
        "__cv",
        norm(F.col("__cv")).alias("__cn"),
        F.posexplode(signbit_buckets(F.col("__cv"), all_planes)).alias(
            "table_id", "bucket"
        ),
    )
    if not broadcast_queries:
        # Corpus-scaled screen: the bucket join's reduce side scores a
        # dot product per COLLISION — its output and compute explode
        # relative to its (few-MB of ids+buckets+vectors) input, so AQE
        # coalesces the exchange down to 2-3 tasks and the scoring runs
        # on 2-3 cores (measured: 8 of this query's 12 s at sf0.1 in one
        # 3-task stage). Pin the join input to cluster parallelism with
        # an explicit-count repartition on the join key; the cap window
        # below and the join both reuse this single exchange. See
        # repartition_for_exploding_join.
        c = repartition_for_exploding_join(c, "table_id", "bucket")
    if max_bucket_candidates is not None:
        # one linear window shuffle on (table_id, bucket) bounds every
        # bucket BEFORE the join — the quadratic never materializes
        wcap = Window.partitionBy("table_id", "bucket").orderBy(
            F.md5(
                F.concat_ws(
                    "|",
                    F.concat(F.lit("lshcap:"), F.col("table_id").cast("string")),
                    F.col("bucket").cast("string"),
                    F.col("neighbor_id").cast("string"),
                )
            ),
            F.col("neighbor_id"),
        )
        c = (
            c.withColumn("__brn", F.row_number().over(wcap))
            .where(F.col("__brn") <= max_bucket_candidates)
            .drop("__brn")
        )

    # queries: same one-shot bucket array; probes (own bucket + 1-bit
    # flips) are generated AFTER the explode, where `bucket` is a plain
    # attribute — the hash computation is never duplicated per probe.
    q = q_base.select(
        "query_id",
        "__qv",
        norm(F.col("__qv")).alias("__qn"),
        F.posexplode(signbit_buckets(F.col("__qv"), all_planes)).alias(
            "table_id", "bucket"
        ),
    )
    if multiprobe_bits >= 1:
        probe_arr = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(2**p).cast("bigint"))
                for p in range(n_planes)
            ],
        )
        q = q.select(
            "query_id",
            "__qv",
            "__qn",
            "table_id",
            F.explode(probe_arr).alias("bucket"),
        )

    if not broadcast_queries:
        # pinned like the corpus side: the two sides of one join must
        # agree or the pinned side forces the exchange anyway
        q = repartition_for_exploding_join(q, "table_id", "bucket")
    pairs = c.join(
        F.broadcast(q) if broadcast_queries else q, ["table_id", "bucket"]
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    if rescore_after_dedup:
        # ids-only dedup first (vectors prune out of the bucket join),
        # then one broadcast re-attach + one scoring fold per UNIQUE pair.
        # The re-attach sides are built from the RAW corpus/queries frames
        # (not the ensure_min_parallelism'd c_base — a round-robin exchange
        # inside a broadcast build is pure cost, r10 plan audit) and with
        # an IDENTICAL intermediate schema: in the self-screen (corpus IS
        # queries) the two BroadcastExchange subtrees then canonicalize
        # equal and Spark builds ONE broadcast, reused for both joins.
        uniq = pairs.select("query_id", "neighbor_id").dropDuplicates()

        def _vec_side(src: DataFrame) -> DataFrame:
            return src.select(
                F.col(id_col).alias("__rid"),
                _as_double_array(vec_col).alias("__rv"),
            ).withColumn("__rn", norm(F.col("__rv")))

        cvb = _vec_side(corpus)
        qvb = _vec_side(queries)
        j1 = uniq.join(
            F.broadcast(cvb), F.col("neighbor_id") == cvb["__rid"]
        ).select(
            "query_id",
            "neighbor_id",
            cvb["__rv"].alias("__cv"),
            cvb["__rn"].alias("__cn"),
        )
        scored = (
            j1.join(F.broadcast(qvb), F.col("query_id") == qvb["__rid"])
            .select(
                "query_id",
                "neighbor_id",
                (
                    dot(qvb["__rv"], F.col("__cv"))
                    / (qvb["__rn"] * F.col("__cn"))
                ).alias("__sim"),
            )
        )
    else:
        scored = (
            pairs.select(
                "query_id",
                "neighbor_id",
                (
                    dot(F.col("__qv"), F.col("__cv"))
                    / (F.col("__qn") * F.col("__cn"))
                ).alias("__sim"),
            )
            .dropDuplicates(["query_id", "neighbor_id"])
        )
    return rank_topk(scored, k)


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine >= threshold)
    over ``NEAR_DUP_DIM``-dim vectors, multi-table LSH-bucketed:
    near-identical vectors land in the same sign bucket with high
    probability, so the self-join is per-bucket, not all-pairs;
    ``NEAR_DUP_TABLES`` independent hash tables drive per-pair recall
    toward 1-(1-p)^L (a single 8-plane table catches a 0.95-cosine pair
    with p≈0.43 — four tables ≈ 0.89) and a pair colliding in several
    tables is emitted once (dropDuplicates).

    The plane count is sized to the corpus (``auto_planes`` with a floor
    of 8 — the historical fixed count, so small corpora behave exactly as
    before; the sizing count() is one cheap extra job). A FIXED plane
    count makes the per-bucket self-join Σ|b|² ~ n²/2^planes — quadratic
    in disguise, the same failure mode measured and fixed on the
    corpus-wide kNN screen (see PERF.md round 5 late).

    ``n_rows`` (r10): callers that know the corpus row count (e.g. from
    parquet footer metadata — registry.table_row_count) inject it so the
    auto-sizing pays no count() job; it MUST equal ``embeddings.count()``
    or the bucketing diverges from the oracle's."""
    n_planes = auto_planes(
        embeddings.count() if n_rows is None else n_rows, floor=8
    )
    all_planes = [
        hyperplanes(NEAR_DUP_DIM, n_planes, LSH_SEED + 1000 * t)
        for t in range(NEAR_DUP_TABLES)
    ]
    # norm hoisted to one fold per ROW; the per-pair fold is dot only
    # (dot/(|a|*|b|) is bit-identical to cosine(), computed once per side)
    e = (
        ensure_min_parallelism(embeddings)
        .select(F.col(id_col), _as_double_array(vec_col).alias("__v"))
        .withColumn("__n", norm(F.col("__v")))
        .select(
            id_col,
            "__v",
            "__n",
            F.posexplode(
                signbit_buckets(F.col("__v"), all_planes)
            ).alias("table_id", "bucket"),
        )
    )
    a = e.select(
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("va"),
        F.col("__n").alias("na"),
        "table_id",
        "bucket",
    )
    b = e.select(
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("vb"),
        F.col("__n").alias("nb"),
        "table_id",
        "bucket",
    )
    return (
        a.join(b, ["table_id", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def centroid_outliers(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Top-k vectors farthest from their group centroid, per group — the
    embedding-space novelty/mislabel report (SemDeDup-adjacent: the same
    centroid geometry, pointed at outliers instead of duplicates).

    Per-dimension explode -> per-(label, dim) mean -> broadcast the centroid
    table (bounded: n_labels x dim rows) back onto the exploded vectors ->
    per-vector L2 distance -> per-label top-k. The only corpus-scaled
    shuffle is the (id, label) distance aggregation; the ranking window
    then sees one row per vector, partitioned by label — the natural
    per-group top-k shape (skewed labels rank within their own partition).

    Distances are rounded to 6dp BEFORE ranking so the ordering is stable
    across engines (float summation order differs; ties break on id).
    """
    flat = embeddings.select(
        id_col, label_col,
        F.posexplode(_as_double_array(vec_col)).alias("i", "v"),
    )
    cent = flat.groupBy(label_col, "i").agg(F.avg("v").alias("m"))
    dist = (
        flat.join(F.broadcast(cent), [label_col, "i"])
        .groupBy(id_col, label_col)
        .agg(
            F.round(
                F.sqrt(F.sum((F.col("v") - F.col("m")) * (F.col("v") - F.col("m")))),
                6,
            ).alias("centroid_dist")
        )
    )
    w = Window.partitionBy(label_col).orderBy(
        F.desc("centroid_dist"), F.asc(id_col)
    )
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(label_col, id_col, "centroid_dist", "rank")
    )


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most cosine-similar corpus vectors with a DIFFERENT
    label — the near-misses a metric-learning objective needs as
    negatives (easy random negatives carry no gradient signal).

    Returns (query_id, query_label, neighbor_id, neighbor_label,
    cosine_sim, rank). The label-mismatch filter runs BEFORE the ranking
    window, so rank 1..k counts negatives only.

    Plan shape mirrors cosine_topk: broadcast the bounded query batch,
    one corpus scan, per-query ranking window. For corpus-wide mining
    (every vector is a query) swap the broadcast cross-join for the
    LSH-bucketed candidate join (lsh_bucketed_topk) and apply the same
    mismatch filter — identical semantics, candidate-bounded cost.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        _as_double_array(vec_col).alias("__qv"),
    )
    c = ensure_min_parallelism(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        _as_double_array(vec_col).alias("__cv"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_label") != F.col("query_label")
    )
    scored = pairs.select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        cosine(F.col("__qv"), F.col("__cv")).alias("__sim"),
    )
    return rank_topk(scored, k)


def auto_planes(n_rows: int, floor: int = 4) -> int:
    """Corpus-aware hyperplane count for lsh_bucketed_topk: enough planes
    that the EXPECTED bucket size is ~64 — ``ceil(log2(n / 64))``,
    floored at ``floor``.

    Why this must scale with the corpus: expected candidates per query
    are ~n/2^planes per table, so a FIXED plane count makes total
    candidate work grow as n²/2^planes — quadratic in disguise. Measured
    on this host (corpus-wide label screen, 64-dim, sf1): 20k vectors
    with 4 planes (16 buckets) took 340 s; auto_planes(20_000) = 9
    planes cut that to 45 s, and the full rework (shuffle bucket join,
    own-bucket probing, hoisted norms — PERF.md round 5 late) to 10.4 s
    with measured ~linear sf1→sf10 growth. Fixed plane counts are for
    pinned-corpus oracle anchors only.
    """
    import math

    if n_rows <= 64:
        return floor
    return max(floor, math.ceil(math.log2(n_rows / 64)))


def embedding_near_dup_star_edges(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = NEAR_DUP_TABLES,
    n_rows: int | None = None,
) -> DataFrame:
    """LINEAR-volume near-dup edges for CLUSTERING embeddings: in every
    (table, bucket), each member connects to the bucket's MINIMUM id (the
    hub), kept iff exact cosine(member, hub) >= threshold. Output
    (src, dst) with src = hub < dst.

    Why star edges and not pairs: a corpus with duplicate clusters of
    size B holds B(B-1)/2 true near-dup PAIRS — the pair relation itself
    is quadratic in cluster size (sf100: ~1000 near-copies per base
    vector => ~10^9 pairs; no engine choice fixes an output that big).
    Connected components don't need all pairs: one verified edge per
    member per table (<= n_tables x n rows total) connects everything a
    per-bucket clique would, whenever members match their hub. The trade
    (documented contract, replayed by the oracle): a bucket member
    similar to OTHER members but not to the hub does not join through
    this bucket — multi-table probing gives it n_tables hubs to match,
    so clusters of genuinely near-identical vectors are unaffected.
    This is the embedding analog of SemDeDup-style centroid grouping.
    ``n_rows``: same footer-count injection contract as
    ``embedding_near_duplicates``; its planes too.
    """
    n_planes = auto_planes(
        embeddings.count() if n_rows is None else n_rows, floor=8
    )
    all_planes = [
        hyperplanes(NEAR_DUP_DIM, n_planes, LSH_SEED + 1000 * t)
        for t in range(n_tables)
    ]
    e = (
        ensure_min_parallelism(embeddings)
        .select(F.col(id_col), _as_double_array(vec_col).alias("__v"))
        .withColumn("__n", norm(F.col("__v")))
        .select(
            id_col,
            "__v",
            "__n",
            F.posexplode(
                signbit_buckets(F.col("__v"), all_planes)
            ).alias("table_id", "bucket"),
        )
    )
    # hub = min id per (table, bucket), carrying its vector for the
    # verification — one aggregation, then a bucket-keyed join: both
    # shuffles are linear in n x n_tables
    hubs = (
        e.groupBy("table_id", "bucket")
        .agg(F.min_by(F.struct(id_col, "__v", "__n"), F.col(id_col)).alias("__h"))
        .select(
            "table_id",
            "bucket",
            F.col(f"__h.{id_col}").alias("__hub"),
            F.col("__h.__v").alias("__hv"),
            F.col("__h.__n").alias("__hn"),
        )
    )
    sim = dot(F.col("__v"), F.col("__hv")) / (F.col("__n") * F.col("__hn"))
    return (
        e.join(hubs, ["table_id", "bucket"])
        .where(F.col(id_col) != F.col("__hub"))
        .where(F.round(sim, 6) >= threshold)
        .select(F.col("__hub").alias("src"), F.col(id_col).alias("dst"))
        .distinct()
    )
