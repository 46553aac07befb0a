"""Similarity-search queries over ``embeddings``.

The brute-force cosine queries are DuckDB-oracle-checked (dot products
recomputed in SQL with explicit DOUBLE casts and index-order sums, rounded
to 6dp). The LSH-bucketed variant is the scale path: it's checked against
brute force in pytest (recall), and registered without an oracle only if its
hyperplane literals ever diverge — here it IS deterministic, but its value
lies in the plan shape, so we keep the oracle on the exact queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.similarity import (
    centroid_outliers,
    cosine,
    cosine_topk,
    lsh_bucketed_topk,
)
from autonomous_orchestrator_ai_spark.plans.registry import (
    register,
    table,
    table_row_count,
)

_DOT = (
    "list_sum(list_transform(range(1, len({a})+1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_NORM = (
    "sqrt(list_sum(list_transform(range(1, len({a})+1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / ({_NORM.format(a=a)} * {_NORM.format(a=b)})"
    )


@register(
    "cosine_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding qe FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_cos_sql("q.qe", "e.embedding")} AS sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) rn
      FROM scored)
    SELECT query_id, neighbor_id, ROUND(sim, 6) AS cosine_sim, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= 5
    """,
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors vec_id<10
    (operators.similarity.cosine_topk): broadcast query side, single corpus
    scan, JVM-side zip_with/aggregate arithmetic — no UDFs."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, k=5)


#: all-pairs baseline slice bound: the exact baseline exists to anchor the
#: LSH variant's recall on a VERIFIABLE subset, so its corpus slice is
#: pinned regardless of scale factor — an O(n²) query whose n grows with
#: the corpus is exactly what must never ship (at sf1 the unbounded form
#: is 400M pairs and was the sweep's runaway)
_ALLPAIRS_MAX_ID = 1000


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
    SELECT a.vec_id id_a, b.vec_id id_b,
           ROUND({_cos_sql("a.embedding", "b.embedding")}, 6) AS cosine_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < {_ALLPAIRS_MAX_ID} AND b.vec_id < {_ALLPAIRS_MAX_ID}
      AND {_cos_sql("a.embedding", "b.embedding")} >= 0.4
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine >= 0.4 on the pinned vec_id < 1000 slice — the
    exact near-dup baseline the LSH variant is measured against. O(n²) by
    design, which is WHY the slice is bounded: the baseline anchors recall
    on a verifiable subset; the corpus-wide scale path is
    operators.similarity.embedding_near_duplicates (bucketed)."""
    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _ALLPAIRS_MAX_ID
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").cast("array<double>").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").cast("array<double>").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("__sim", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("__sim") >= 0.4)
        .select("id_a", "id_b", F.round("__sim", 6).alias("cosine_sim"))
    )


def _embedding_lsh_pairs_oracle(sf_dir: str) -> str:
    """Callable oracle (registry.resolve_oracle) for the corpus-wide
    LSH near-dup scale path: plane count is auto-sized from the corpus
    exactly as the Spark side does, then the multi-table bucketing,
    DISTINCT pair join, and exact cosine re-score are unrolled into
    plain SQL. Resolving per sf dir keeps the configuration identical
    at EVERY scale the harness checks."""
    import duckdb

    from autonomous_orchestrator_ai_spark.operators.similarity import (
        auto_planes,
        hyperplanes,
    )

    n = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    n_planes, n_tables, dim, seed = auto_planes(n, floor=8), 4, 64, 42
    rows = []
    for t in range(n_tables):
        for p, plane in enumerate(hyperplanes(dim, n_planes, seed + 1000 * t)):
            lit = "[" + ",".join(repr(float(x)) for x in plane) + "]"
            rows.append(f"({t}, {p}, {lit})")
    return f"""
    WITH planes(table_id, plane_id, plane) AS (VALUES {",".join(rows)}),
    cb AS (
      SELECT e.vec_id, p.table_id,
             SUM(CASE WHEN list_sum(list_transform(range(1, {dim}+1),
                   i -> CAST(e.embedding[i] AS DOUBLE) * p.plane[i])) >= 0
                 THEN CAST(1 << p.plane_id AS BIGINT)
                 ELSE 0 END) AS bucket
      FROM embeddings e CROSS JOIN planes p
      GROUP BY e.vec_id, p.table_id),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cb a JOIN cb b
        ON a.table_id = b.table_id AND a.bucket = b.bucket
       AND a.vec_id < b.vec_id),
    scored AS (
      SELECT cd.id_a, cd.id_b,
             ROUND({_cos_sql("ea.embedding", "eb.embedding")}, 6)
               AS cosine_sim
      FROM cand cd
      JOIN embeddings ea ON ea.vec_id = cd.id_a
      JOIN embeddings eb ON eb.vec_id = cd.id_b)
    SELECT id_a, id_b, cosine_sim FROM scored
    WHERE cosine_sim >= 0.4
    ORDER BY cosine_sim DESC, id_a, id_b LIMIT 50
    """


@register("embedding_near_dup_pairs_lsh", oracle=_embedding_lsh_pairs_oracle)
def embedding_near_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE PATH twin of embedding_near_dup_pairs: corpus-wide
    cosine >= 0.4 pairs via multi-table LSH bucketing
    (operators.similarity.embedding_near_duplicates — auto-sized planes,
    4 hash tables, per-bucket self-join, never all-pairs), top-50 by
    similarity with a unique (id_a, id_b) tie-break. Deterministic given
    corpus + seed, so it carries a real callable DuckDB oracle that
    re-derives the same auto-sized configuration at whatever sf dir is
    being checked. The pinned all-pairs baseline stays as the recall
    anchor; THIS is the query you run on the full corpus."""
    from autonomous_orchestrator_ai_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    emb = table(spark, sf_dir, "embeddings")
    pairs = embedding_near_duplicates(
        emb,
        threshold=0.4,
        # footer count, no sizing job (r10 — see registry.table_row_count)
        n_rows=table_row_count(sf_dir, "embeddings"),
    )
    return pairs.orderBy(F.desc("cosine_sim"), "id_a", "id_b").limit(50)


@register(
    "label_centroid_norms",
    oracle="""
    WITH flat AS (
      SELECT label, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    cent AS (SELECT label, i, AVG(v) AS m FROM flat GROUP BY label, i)
    SELECT c.label,
           CAST(n.n AS BIGINT) AS n_vectors,
           ROUND(SQRT(SUM(c.m * c.m)), 6) AS centroid_norm
    FROM cent c JOIN (SELECT label, COUNT(*) n FROM embeddings GROUP BY label) n
      ON c.label = n.label
    GROUP BY c.label, n.n
    """,
)
def label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid L2 norm: posexplode -> per-dimension mean ->
    norm. The 'cluster quality' building block for IVF-style partitioned
    ANN (centroids become the coarse quantizer)."""
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "v")
    )
    cent = flat.groupBy("label", "i").agg(F.avg("v").alias("m"))
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        cent.groupBy("label")
        .agg(F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("centroid_norm"))
        .join(counts, "label")
        .select("label", "n_vectors", "centroid_norm")
    )


@register(
    "centroid_outlier_topk",
    oracle="""
    WITH flat AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    cent AS (SELECT label, i, AVG(v) AS m FROM flat GROUP BY label, i),
    dist AS (
      SELECT f.vec_id, f.label,
             ROUND(SQRT(SUM((f.v - c.m) * (f.v - c.m))), 6) AS centroid_dist
      FROM flat f JOIN cent c ON f.label = c.label AND f.i = c.i
      GROUP BY f.vec_id, f.label),
    ranked AS (
      SELECT label, vec_id, centroid_dist,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY centroid_dist DESC, vec_id ASC) AS rnk
      FROM dist)
    SELECT label, vec_id, centroid_dist, CAST(rnk AS BIGINT) AS rank
    FROM ranked WHERE rnk <= 5
    """,
)
def centroid_outlier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 farthest-from-centroid vectors per label
    (operators.similarity.centroid_outliers) — the embedding novelty /
    mislabel report. Centroid table is bounded (labels x dims) and
    broadcast; ranking is rounded-before-ordered for engine stability."""
    emb = table(spark, sf_dir, "embeddings")
    return centroid_outliers(emb, "embedding", "vec_id", "label", k=5)


@register("ivf_ann_topk")  # no oracle: approximate + iterative (kmeans); pytest checks recall
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (operators/ivf.py): k-means inverted lists
    (an iterative DataFrame algorithm — the oracle contract's exempt
    category), n_probe-nearest lists re-ranked exactly. Driver records a
    rows-only check; tests/test_ivf.py asserts recall on clustered data."""
    from autonomous_orchestrator_ai_spark.operators.ivf import (
        ivf_topk,
        kmeans_sample,
    )

    emb = table(spark, sf_dir, "embeddings")
    # coarse quantizer trained on a bounded sample (one TakeOrdered job +
    # driver NumPy) — corpus-size-independent, the FAISS recipe
    centroids = kmeans_sample(emb, k=8, iterations=10, sample_size=2048)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, centroids, k=5, n_probe=3)


def _lsh_oracle_sql(
    k: int, n_planes: int, n_tables: int, dim: int, seed: int
) -> str:
    """Derandomized-LSH oracle: the hyperplanes are seeded literals (the
    SAME driver-side ``hyperplanes`` call the Spark operator embeds), so
    sign-bit bucketing, 1-bit multiprobe, the bucket equi-join, and the
    exact-cosine re-rank are all plain SQL — the 'approximate' operator is
    a deterministic function of (corpus, seed) and therefore
    hash-checkable, the same unrolling trick that gave PageRank an exact
    oracle (plans/graph_queries.py). Sign decisions agree across engines
    because both sides fold the dot product in index order over doubles
    (operators/similarity.py:34 vs list_sum/list_transform)."""
    from autonomous_orchestrator_ai_spark.operators.similarity import (
        hyperplanes,
    )

    rows = []
    for t in range(n_tables):
        for p, plane in enumerate(hyperplanes(dim, n_planes, seed + 1000 * t)):
            lit = "[" + ",".join(repr(float(x)) for x in plane) + "]"
            rows.append(f"({t}, {p}, {lit})")
    flips = ", ".join(f"({f})" for f in [-1, *range(n_planes)])
    return f"""
    WITH planes(table_id, plane_id, plane) AS (VALUES {",".join(rows)}),
    cb AS (
      SELECT e.vec_id, p.table_id,
             SUM(CASE WHEN list_sum(list_transform(range(1, {dim}+1),
                   i -> CAST(e.embedding[i] AS DOUBLE) * p.plane[i])) >= 0
                 THEN CAST(1 << p.plane_id AS BIGINT)
                 ELSE 0 END) AS bucket
      FROM embeddings e CROSS JOIN planes p
      GROUP BY e.vec_id, p.table_id),
    qp AS (
      SELECT DISTINCT b.vec_id AS query_id, b.table_id,
             CASE WHEN f.flip < 0 THEN b.bucket
                  ELSE xor(b.bucket, CAST(1 << f.flip AS BIGINT))
             END AS bucket
      FROM cb b CROSS JOIN (VALUES {flips}) AS f(flip)
      WHERE b.vec_id < 10),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
      FROM qp q JOIN cb c
        ON q.table_id = c.table_id AND q.bucket = c.bucket
      WHERE c.vec_id <> q.query_id),
    scored AS (
      SELECT cd.query_id, cd.neighbor_id,
             {_cos_sql("qe.embedding", "ne.embedding")} AS sim
      FROM cand cd
      JOIN embeddings qe ON qe.vec_id = cd.query_id
      JOIN embeddings ne ON ne.vec_id = cd.neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) rn
      FROM scored)
    SELECT query_id, neighbor_id, ROUND(sim, 6) AS cosine_sim,
           CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {k}
    """


@register(
    "lsh_ann_topk",
    oracle=_lsh_oracle_sql(k=5, n_planes=4, n_tables=4, dim=64, seed=42),
)
def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH with 1-bit multi-probe
    (operators.similarity.lsh_bucketed_topk). The operator is approximate
    with respect to BRUTE FORCE (recall >= 0.6 pinned in
    tests/test_similarity_asof.py) but fully deterministic given the
    seeded hyperplane literals — so it carries a REAL DuckDB oracle that
    re-derives bucketing + multiprobe + candidate join + exact re-rank in
    SQL (see ``_lsh_oracle_sql``) and hash-matches end to end."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # 10-query serving shape: broadcasting the probe side is the right
    # plan and passing it explicitly skips the auto-detect count job
    return lsh_bucketed_topk(
        emb, queries, k=5, n_planes=4, n_tables=4, dim=64,
        broadcast_queries=True,
    )


def _ivf_oracle_sql(k: int, n_probe: int, n_cents: int, dim: int, seed: int) -> str:
    """Frozen-quantizer IVF oracle: centroids are seeded literals (the
    SAME ``fixed_centroids`` array the Spark operator embeds), so bucket
    assignment (squared-L2 argmin == argmax of 2x·c − ‖c‖², ties to the
    lowest centroid id), n_probe probing, and the exact-cosine re-rank
    are plain SQL. Engine-identical by the same argument as the LSH
    oracle: argmin decisions only differ if two centroid distances tie
    within float noise — measure-zero for Gaussian centroids."""
    from autonomous_orchestrator_ai_spark.operators.ivf import (
        fixed_centroids,
    )

    cents = fixed_centroids(dim, n_cents, seed)
    rows = ", ".join(
        f"({cid}, [" + ",".join(repr(float(x)) for x in c) + "])"
        for cid, c in enumerate(cents)
    )
    score = (
        f"2.0 * list_sum(list_transform(range(1, {dim}+1), "
        "i -> CAST(e.embedding[i] AS DOUBLE) * p.c[i])) "
        f"- list_sum(list_transform(range(1, {dim}+1), i -> p.c[i] * p.c[i]))"
    )
    return f"""
    WITH cents(cid, c) AS (VALUES {rows}),
    d AS (
      SELECT e.vec_id, p.cid, {score} AS score
      FROM embeddings e CROSS JOIN cents p),
    vb AS (
      SELECT vec_id, cid AS bucket FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cid) rn
        FROM d) WHERE rn = 1),
    qp AS (
      SELECT vec_id AS query_id, cid AS bucket FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cid) rn
        FROM d WHERE vec_id < 10) WHERE rn <= {n_probe}),
    cand AS (
      SELECT DISTINCT q.query_id, v.vec_id AS neighbor_id
      FROM qp q JOIN vb v ON q.bucket = v.bucket
      WHERE v.vec_id <> q.query_id),
    scored AS (
      SELECT cd.query_id, cd.neighbor_id,
             {_cos_sql("qe.embedding", "ne.embedding")} AS sim
      FROM cand cd
      JOIN embeddings qe ON qe.vec_id = cd.query_id
      JOIN embeddings ne ON ne.vec_id = cd.neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) rn
      FROM scored)
    SELECT query_id, neighbor_id, ROUND(sim, 6) AS cosine_sim,
           CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {k}
    """


@register(
    "ivf_fixed_quantizer_topk",
    oracle=_ivf_oracle_sql(k=5, n_probe=3, n_cents=8, dim=64, seed=42),
)
def ivf_fixed_quantizer_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF serving under a FROZEN coarse quantizer
    (operators.ivf.fixed_centroids): the production pattern where the
    quantizer is trained once and the corpus grows under it — assignment
    is one bounded-closure pandas-UDF pass, probes read n_probe/k of the
    corpus, exact cosine re-ranks. Because the quantizer is a constant,
    this twin of ``ivf_ann_topk`` carries a REAL DuckDB oracle
    (hash-matched end to end), closing the determinism gap the trained
    form can't (its k-means runs driver-side NumPy whose pairwise
    summation no SQL engine reproduces bit-for-bit)."""
    from autonomous_orchestrator_ai_spark.operators.ivf import (
        fixed_centroids,
        ivf_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(
        emb, queries, fixed_centroids(64, 8, 42), k=5, n_probe=3
    )


@register(
    "semantic_dedup_survivors",
    oracle=f"""
    WITH dropped AS (
      SELECT DISTINCT b.vec_id
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_cos_sql("a.embedding", "b.embedding")} >= 0.4)
    SELECT e.label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
    FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.vec_id
    GROUP BY e.label
    """,
)
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators.semdedup): within each
    label block, drop vectors with a lower-id cosine>=0.4 neighbor; report
    per-label survivor counts. Label is the blocking column here; at scale
    the block id comes from operators.ivf.kmeans_sample so per-block sizes bound
    the quadratic comparison term."""
    from autonomous_orchestrator_ai_spark.operators.semdedup import (
        semantic_dedup,
    )

    emb = table(spark, sf_dir, "embeddings")
    survivors = semantic_dedup(emb, block_col="label", threshold=0.4).select(
        F.col("vec_id").alias("surv_id")
    )
    return (
        emb.join(survivors, emb.vec_id == survivors.surv_id, "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count("surv_id").alias("n_survivors"),
        )
    )


@register("pq_ann_topk")  # no oracle: approximate + iterative (PQ training); pytest checks recall
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ serving (operators/pq.py): codebooks trained on a
    bounded md5 sample (one TakeOrdered job + driver NumPy), corpus
    encoded to 8 one-byte codes (64x compression), ADC shortlist of 50
    per query, exact-cosine re-rank to top-5. Driver records a rows-only
    check; tests/test_pq.py pins encoding exactness, ADC-vs-NumPy rank
    parity, and recall >= 0.7 vs brute force."""
    from autonomous_orchestrator_ai_spark.operators.pq import (
        pq_encode,
        pq_topk_reranked,
        train_pq,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cb = train_pq(emb, m=8, n_codes=32, sample_size=2048)
    codes = pq_encode(emb, cb)
    return pq_topk_reranked(emb, codes, queries, cb, k=5, shortlist=50)


def _pq_oracle_sql(
    k: int, shortlist: int, m: int, n_codes: int, dim: int, seed: int
) -> str:
    """Frozen-codebook PQ oracle: encoding (per-subspace argmax of
    2x·c − ‖c‖², ties to the lowest code), the ADC inner-product sum,
    the shortlist cut (score desc, neighbor asc), and the exact-cosine
    re-rank — all plain SQL over codebook literals. Boundary decisions
    (sub-code argmax, shortlist rank) only flip on float near-ties —
    measure-zero for Gaussian codebooks, same argument as the LSH and
    IVF oracles."""
    from autonomous_orchestrator_ai_spark.operators.pq import (
        fixed_pq_codebooks,
    )

    sub = dim // m
    cb = fixed_pq_codebooks(dim, m, n_codes, seed)
    rows = ", ".join(
        f"({j}, {code}, [" + ",".join(repr(float(x)) for x in cb[j][code]) + "])"
        for j in range(m)
        for code in range(n_codes)
    )
    ip = (
        f"list_sum(list_transform(range(1, {sub}+1), "
        f"i -> CAST(e.embedding[cb.j * {sub} + i] AS DOUBLE) * cb.c[i]))"
    )
    cnorm = f"list_sum(list_transform(range(1, {sub}+1), i -> cb.c[i] * cb.c[i]))"
    return f"""
    WITH cb(j, code, c) AS (VALUES {rows}),
    scores AS (
      SELECT e.vec_id, cb.j, cb.code,
             {ip} AS ip, 2.0 * {ip} - {cnorm} AS s
      FROM embeddings e CROSS JOIN cb),
    enc AS (
      SELECT vec_id, j, code FROM (
        SELECT vec_id, j, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                  ORDER BY s DESC, code) rn
        FROM scores) WHERE rn = 1),
    qip AS (
      SELECT vec_id AS query_id, j, code, ip
      FROM scores WHERE vec_id < 10),
    adc AS (
      SELECT q.query_id, en.vec_id AS neighbor_id, SUM(q.ip) AS score
      FROM enc en JOIN qip q ON q.j = en.j AND q.code = en.code
      WHERE en.vec_id <> q.query_id
      GROUP BY q.query_id, en.vec_id),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) rn
        FROM adc) WHERE rn <= {shortlist}),
    scored AS (
      SELECT s.query_id, s.neighbor_id,
             {_cos_sql("qe.embedding", "ne.embedding")} AS sim
      FROM short s
      JOIN embeddings qe ON qe.vec_id = s.query_id
      JOIN embeddings ne ON ne.vec_id = s.neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) rn
      FROM scored)
    SELECT query_id, neighbor_id, ROUND(sim, 6) AS cosine_sim,
           CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {k}
    """


@register(
    "pq_fixed_codebook_topk",
    oracle=_pq_oracle_sql(k=5, shortlist=50, m=8, n_codes=16, dim=64, seed=42),
)
def pq_fixed_codebook_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ serving under FROZEN codebooks
    (operators.pq.fixed_pq_codebooks): distributed encode to m one-byte
    codes, ADC shortlist of 50 per query, exact-cosine re-rank to top-5 —
    the ``pq_ann_topk`` pipeline with the trained quantizer swapped for a
    constant one, which makes the whole thing a deterministic function of
    the corpus and gives the PQ family its first REAL DuckDB oracle
    (encoding + ADC + shortlist + re-rank all hash-matched)."""
    from autonomous_orchestrator_ai_spark.operators.pq import (
        fixed_pq_codebooks,
        pq_encode,
        pq_topk_reranked,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cb = fixed_pq_codebooks(64, 8, 16, 42)
    codes = pq_encode(emb, cb)
    return pq_topk_reranked(emb, codes, queries, cb, k=5, shortlist=50)


@register(
    "embedding_dim_profile",
    oracle="""
    WITH comps AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    s AS (
      SELECT dim, COUNT(*) AS n, SUM(v) AS sx, SUM(v * v) AS sxx,
             MIN(v) AS mn, MAX(v) AS mx
      FROM comps GROUP BY dim)
    SELECT CAST(dim AS INT) AS dim,
           CAST(n AS BIGINT) AS n_vecs,
           ROUND(sx / n, 6) AS mean_v,
           ROUND(sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 6) AS std_v,
           ROUND(mn, 6) AS min_v,
           ROUND(mx, 6) AS max_v
    FROM s
    """,
)
def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension profile of the embedding column (mean/std/min/max) —
    the ANN pre-flight: dead dimensions, scale imbalance, and outliers
    all surface here before they silently degrade IVF/PQ training.
    posexplode -> map-combined groupBy(dim): the shuffle carries at most
    n_dims rows per partition. min/max are float-exact; mean/std use
    double sums rounded well below the summation-order noise floor."""
    emb = table(spark, sf_dir, "embeddings")
    comps = emb.select(
        F.posexplode("embedding").alias("dim", "v0")
    ).select("dim", F.col("v0").cast("double").alias("v"))
    s = comps.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sx"),
        F.sum(F.col("v") * F.col("v")).alias("sxx"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    return s.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").alias("n_vecs"),
        F.round(F.col("sx") / F.col("n"), 6).alias("mean_v"),
        F.round(
            F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                / (F.col("n") * (F.col("n") - F.lit(1.0)))
            ),
            6,
        ).alias("std_v"),
        F.round(F.col("mn"), 6).alias("min_v"),
        F.round(F.col("mx"), 6).alias("max_v"),
    )


@register(
    "label_centroid_distances",
    oracle="""
    WITH comps AS (
      SELECT label, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    cent AS (
      SELECT label, i, AVG(v) AS m FROM comps GROUP BY label, i),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             SUM((a.m - b.m) * (a.m - b.m)) AS d2
      FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
      GROUP BY a.label, b.label)
    SELECT CAST(label_a AS INT) AS label_a, CAST(label_b AS INT) AS label_b,
           ROUND(sqrt(d2), 4) AS centroid_dist
    FROM pairs
    """,
)
def label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Euclidean distances between per-label embedding centroids
    — the class-separability overview an ANN/semantic-dedup pipeline
    checks before trusting label-blocked strategies (semdedup blocks by
    label; near-identical centroids mean the blocking leaks neighbors).
    Two map-combined aggregations (per-(label, dim) mean, then per-pair
    sum over dims); the pair join carries n_labels^2 * n_dims tiny rows,
    never the corpus."""
    emb = table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "label", F.posexplode("embedding").alias("i", "v0")
    ).select("label", "i", F.col("v0").cast("double").alias("v"))
    cent = comps.groupBy("label", "i").agg(F.avg("v").alias("m"))
    a = cent.select(
        F.col("label").alias("label_a"), "i", F.col("m").alias("ma")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "i", F.col("m").alias("mb")
    )
    pairs = (
        a.join(b, "i")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(
                (F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb"))
            ).alias("d2")
        )
    )
    return pairs.select(
        F.col("label_a").cast("int").alias("label_a"),
        F.col("label_b").cast("int").alias("label_b"),
        F.round(F.sqrt("d2"), 4).alias("centroid_dist"),
    )


def _ivfpq_oracle_sql(
    k: int,
    n_probe: int,
    shortlist: int,
    n_cents: int,
    m: int,
    n_codes: int,
    dim: int,
    seed: int,
) -> str:
    """Frozen IVF-PQ (IVFADC + refine) oracle: centroid AND codebook
    literals, so every stage of the fused pipeline is plain SQL — bucket
    assignment (argmax 2x·c − ‖c‖², ties low id), RESIDUAL sub-codes
    (same rule per subspace over x − c_bucket), probe lists (same argmax,
    rn <= n_probe), ADC score q·c_b + Σ_j q_j·cb_j[code], shortlist cut
    (score desc, id asc), exact-cosine re-rank. Engine-identical by the
    family argument (lsh/ivf/pq oracles above): decisions only flip on
    float near-ties, measure-zero for Gaussian constants."""
    from autonomous_orchestrator_ai_spark.operators.ivf import fixed_centroids
    from autonomous_orchestrator_ai_spark.operators.pq import fixed_pq_codebooks

    sub = dim // m
    cents = fixed_centroids(dim, n_cents, seed)
    cb = fixed_pq_codebooks(dim, m, n_codes, seed)
    cent_rows = ", ".join(
        f"({cid}, [" + ",".join(repr(float(x)) for x in c) + "])"
        for cid, c in enumerate(cents)
    )
    cb_rows = ", ".join(
        f"({j}, {code}, [" + ",".join(repr(float(x)) for x in cb[j][code]) + "])"
        for j in range(m)
        for code in range(n_codes)
    )
    assign_score = (
        f"2.0 * list_sum(list_transform(range(1, {dim}+1), "
        "i -> CAST(e.embedding[i] AS DOUBLE) * p.c[i])) "
        f"- list_sum(list_transform(range(1, {dim}+1), i -> p.c[i] * p.c[i]))"
    )
    enc_score = (
        f"2.0 * list_sum(list_transform(range(1, {sub}+1), "
        f"i -> r.r[cb.j * {sub} + i] * cb.c[i])) "
        f"- list_sum(list_transform(range(1, {sub}+1), i -> cb.c[i] * cb.c[i]))"
    )
    return f"""
    WITH cents(cid, c) AS (VALUES {cent_rows}),
    cb(j, code, c) AS (VALUES {cb_rows}),
    d AS (
      SELECT e.vec_id, p.cid, {assign_score} AS score
      FROM embeddings e CROSS JOIN cents p),
    vb AS (
      SELECT vec_id, cid AS bucket FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cid) rn
        FROM d) WHERE rn = 1),
    qp AS (
      SELECT vec_id AS query_id, cid AS bucket FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cid) rn
        FROM d WHERE vec_id < 10) WHERE rn <= {n_probe}),
    res AS (
      SELECT e.vec_id, v.bucket,
             list_transform(range(1, {dim}+1),
                            i -> CAST(e.embedding[i] AS DOUBLE) - p.c[i]) AS r
      FROM embeddings e
      JOIN vb v ON v.vec_id = e.vec_id
      JOIN cents p ON p.cid = v.bucket),
    encs AS (
      SELECT r.vec_id, r.bucket, cb.j, cb.code, {enc_score} AS s
      FROM res r CROSS JOIN cb),
    enc AS (
      SELECT vec_id, bucket, j, code FROM (
        SELECT vec_id, bucket, j, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                  ORDER BY s DESC, code) rn
        FROM encs) WHERE rn = 1),
    qip AS (
      SELECT e.vec_id AS query_id, cb.j, cb.code,
             list_sum(list_transform(range(1, {sub}+1),
               i -> CAST(e.embedding[cb.j * {sub} + i] AS DOUBLE) * cb.c[i]))
               AS ip
      FROM embeddings e CROSS JOIN cb WHERE e.vec_id < 10),
    qcent AS (
      SELECT q.query_id, q.bucket,
             list_sum(list_transform(range(1, {dim}+1),
               i -> CAST(e.embedding[i] AS DOUBLE) * p.c[i])) AS qc
      FROM qp q
      JOIN embeddings e ON e.vec_id = q.query_id
      JOIN cents p ON p.cid = q.bucket),
    adc AS (
      SELECT qp.query_id, en.vec_id AS neighbor_id,
             MAX(qc.qc) + SUM(qi.ip) AS score
      FROM enc en
      JOIN qp ON qp.bucket = en.bucket
      JOIN qip qi ON qi.query_id = qp.query_id
              AND qi.j = en.j AND qi.code = en.code
      JOIN qcent qc ON qc.query_id = qp.query_id AND qc.bucket = en.bucket
      WHERE en.vec_id <> qp.query_id
      GROUP BY qp.query_id, en.vec_id),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) rn
        FROM adc) WHERE rn <= {shortlist}),
    scored AS (
      SELECT s.query_id, s.neighbor_id,
             {_cos_sql("qe.embedding", "ne.embedding")} AS sim
      FROM short s
      JOIN embeddings qe ON qe.vec_id = s.query_id
      JOIN embeddings ne ON ne.vec_id = s.neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) rn
      FROM scored)
    SELECT query_id, neighbor_id, ROUND(sim, 6) AS cosine_sim,
           CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {k}
    """


@register(
    "ivfpq_fixed_topk",
    oracle=_ivfpq_oracle_sql(
        k=5, n_probe=3, shortlist=50, n_cents=8, m=8, n_codes=16, dim=64, seed=42
    ),
)
def ivfpq_fixed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete IVF-PQ serving stack (operators/ivfpq.py — IVFADC +
    refine, Jegou et al. TPAMI 2011) under FROZEN quantizers: one-pass
    (bucket, residual-PQ-code) encoding, n_probe inverted-list pruning,
    ADC shortlist of 50, exact-cosine re-rank to top-5. The third member
    of the derandomized-ANN family (lsh_ann_topk, ivf_fixed_quantizer_
    topk, pq_fixed_codebook_topk) and the only one exercising RESIDUAL
    quantization — the accuracy trick that makes IVF-PQ the 100 TB
    default. Hash-matched end to end against the unrolled SQL oracle."""
    from autonomous_orchestrator_ai_spark.operators.ivf import fixed_centroids
    from autonomous_orchestrator_ai_spark.operators.ivfpq import ivfpq_topk
    from autonomous_orchestrator_ai_spark.operators.pq import fixed_pq_codebooks

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cents = fixed_centroids(64, 8, 42)
    cb = fixed_pq_codebooks(64, 8, 16, 42)
    return ivfpq_topk(
        emb, queries, cents, cb, k=5, n_probe=3, shortlist=50
    )


def _embedding_clusters_oracle(sf_dir: str) -> str:
    """Callable oracle for the star-edge embedding clustering: same
    auto-sized plane derivation as the pairs oracle, then hub selection,
    verified star edges, recursive connected components, and the
    cluster-size histogram — all replayed in SQL."""
    import duckdb

    from autonomous_orchestrator_ai_spark.operators.similarity import (
        auto_planes,
        hyperplanes,
    )

    n = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    n_planes, n_tables, dim, seed = auto_planes(n, floor=8), 4, 64, 42
    rows = []
    for t in range(n_tables):
        for p, plane in enumerate(hyperplanes(dim, n_planes, seed + 1000 * t)):
            lit = "[" + ",".join(repr(float(x)) for x in plane) + "]"
            rows.append(f"({t}, {p}, {lit})")
    return f"""
    WITH RECURSIVE
    planes(table_id, plane_id, plane) AS (VALUES {",".join(rows)}),
    cb AS MATERIALIZED (
      SELECT e.vec_id, p.table_id,
             SUM(CASE WHEN list_sum(list_transform(range(1, {dim}+1),
                   i -> CAST(e.embedding[i] AS DOUBLE) * p.plane[i])) >= 0
                 THEN CAST(1 << p.plane_id AS BIGINT)
                 ELSE 0 END) AS bucket
      FROM embeddings e CROSS JOIN planes p
      GROUP BY e.vec_id, p.table_id),
    hubs AS (SELECT table_id, bucket, MIN(vec_id) AS hub
             FROM cb GROUP BY table_id, bucket),
    edges AS (
      SELECT DISTINCT h.hub AS s, m.vec_id AS d
      FROM cb m JOIN hubs h
        ON m.table_id = h.table_id AND m.bucket = h.bucket
      JOIN embeddings em ON em.vec_id = m.vec_id
      JOIN embeddings eh ON eh.vec_id = h.hub
      WHERE m.vec_id <> h.hub
        AND ROUND({_cos_sql("em.embedding", "eh.embedding")}, 6) >= 0.4),
    sym AS (SELECT s, d FROM edges UNION SELECT d, s FROM edges),
    reach(s, d) AS (
      SELECT s, d FROM sym
      UNION
      SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s),
    comp AS (SELECT s AS node, LEAST(s, MIN(d)) AS component
             FROM reach GROUP BY s),
    assigned AS (
      SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS unit
      FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node),
    sizes AS (SELECT unit, COUNT(*) AS cluster_size
              FROM assigned GROUP BY unit)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_vecs
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """


@register("embedding_near_dup_clusters", oracle=_embedding_clusters_oracle)
def embedding_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER census over embeddings — the output shape that
    survives mass duplication. ``embedding_near_dup_pairs_lsh`` returns
    the pair relation, which is inherently quadratic in cluster size (a
    1000-copy cluster holds ~500k pairs; sf100 would emit ~10^9 rows no
    matter how the join is planned). This query instead builds LINEAR
    star edges (operators.similarity.embedding_near_dup_star_edges: each
    bucket member connects to its bucket's min-id hub, exact-cosine
    verified at 0.4), runs connected components, and reports the
    cluster-size histogram — per-scale output is bounded by the number
    of distinct cluster sizes. Deterministic end to end (auto-sized
    planes re-derived by the callable oracle, recursive-CTE component
    replay), hash-exact at every checked scale."""
    from autonomous_orchestrator_ai_spark.operators.graph import (
        connected_components,
    )
    from autonomous_orchestrator_ai_spark.operators.similarity import (
        embedding_near_dup_star_edges,
    )

    emb = table(spark, sf_dir, "embeddings")
    edges = embedding_near_dup_star_edges(
        emb,
        threshold=0.4,
        n_tables=4,
        # footer count, no sizing job (r10 — see registry.table_row_count)
        n_rows=table_row_count(sf_dir, "embeddings"),
    )
    comp = connected_components(edges, src="src", dst="dst")
    assigned = emb.select("vec_id").join(
        comp, emb["vec_id"] == comp["node"], "left"
    ).select(F.coalesce("component", "vec_id").alias("unit"))
    sizes = assigned.groupBy("unit").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_vecs"),
        )
        .orderBy("cluster_size")
    )
