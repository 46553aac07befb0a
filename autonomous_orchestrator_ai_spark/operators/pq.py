"""Product-quantization ANN (the FAISS PQ/IVF-PQ compression path).

At 100 TB of float32 embeddings, exact re-ranking everything is scan-bound:
PQ stores each vector as ``m`` one-byte codes (64-dim float64 -> 8 bytes =
64x compression), and asymmetric distance computation (ADC) scores a query
against a corpus row with ``m`` table lookups instead of ``dim`` multiplies.
The standard serving stack is IVF to prune the candidate set + PQ codes to
score it + an exact re-rank of the short list; all three pieces exist here
(operators/ivf.py, this module, operators/similarity.cosine_topk).

Division of labor (same as operators/ivf.py, and for the same reason):
codebook TRAINING is driver-side NumPy on a bounded deterministic sample
(corpus-size-independent — FAISS trains PQ on ~100k vectors regardless of
index size); ENCODING and SCORING are distributed, Arrow-batched, and
O(n·m·n_codes) BLAS per batch — never a per-row Python loop, never an
expression tree that grows with ``m``.

Determinism: sampling and seeding reuse ``kmeans_sample``'s smallest-md5
order; Lloyd's ties break toward the lowest code id; score ties rank by
neighbor id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.similarity import (
    _as_double_array,
    cosine,
    rank_topk,
)

#: the most queries one ``pq_adc_topk`` call takes: 4096 queries ≈ 8 MB of
#: LUT at m=8/n_codes=256 (see its docstring).
MAX_QUERY_BATCH = 4096


def train_pq(
    df: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train PQ codebooks: split the vector into ``m`` contiguous
    subvectors, k-means each subspace (10 Lloyd iterations) independently
    on one deterministic sample (shared recipe: ``ivf.collect_md5_sample``
    + ``ivf.lloyd_numpy``). Returns (m, n_codes, dim/m) codebooks."""
    from autonomous_orchestrator_ai_spark.operators.ivf import (
        collect_md5_sample,
        lloyd_numpy,
    )

    x = collect_md5_sample(df, id_col, vec_col, sample_size)
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    return np.stack(
        [
            lloyd_numpy(x[:, j * sub : (j + 1) * sub], n_codes, 10)
            for j in range(m)
        ]
    )


def fixed_pq_codebooks(
    dim: int, m: int = 8, n_codes: int = 16, seed: int = 42
) -> np.ndarray:
    """Frozen PQ codebooks: seeded Gaussian sub-centroids, unit-normalized
    per entry so assignment (argmax of 2x·c − ‖c‖²) reduces to pure
    max-inner-product over directions. Same role as
    ``ivf.fixed_centroids``: a constant quantizer makes encoding, ADC,
    and re-ranking deterministic functions of the corpus — SQL-
    expressible, hence the real DuckDB oracle on
    ``pq_fixed_codebook_topk`` (trained codebooks can't have one: driver
    NumPy pairwise summation isn't reproducible in SQL)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    rng = np.random.default_rng(seed)
    cb = rng.standard_normal((m, n_codes, dim // m))
    return cb / np.linalg.norm(cb, axis=2, keepdims=True)


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Distributed encoding: vec -> array<int> of ``m`` nearest-sub-
    centroid ids. One Arrow-batched pass; per batch the assignment is m
    small BLAS matmuls. Codebooks ride in the task closure
    (m·n_codes·sub doubles — KBs). It runs on ``df``'s own partitions:
    the kernel costs microseconds per row and each Python task ~0.2 s
    of worker start-up. A round-robin spread to the cluster's
    parallelism measured slower at sf0.01, sf0.1 and sf1, and a forced
    4-way spread of sf10's 200k vectors was slower than one task
    (PERF.md "What a Python worker task costs")."""
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, n_codes, sub = cb.shape

    def encode(batches):
        for pdf in batches:
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                xs = x[:, j * sub : (j + 1) * sub]
                c = cb[j]
                scores = 2.0 * (xs @ c.T) - (c * c).sum(axis=1)
                codes[:, j] = scores.argmax(axis=1)
            out = pdf.drop(columns=["__v"]).copy()
            out[code_col] = [row.tolist() for row in codes]
            yield out

    keep = [c for c in df.columns if c != vec_col]
    prepared = df.select(*keep, _as_double_array(vec_col).alias("__v"))
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in prepared.schema.fields
        if f.name != "__v"
    )
    return prepared.mapInPandas(encode, schema=f"{schema}, {code_col} array<int>")


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    query_id_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per partition, build each
    query's (m × n_codes) inner-product lookup table once, score every
    corpus row with m gathers + a sum, keep per-partition top-k partials,
    and resolve the global top-k with one keyed window over ≤ partitions·k
    rows per query. The corpus never materializes pairs — the shuffle
    carries only the partial top-k survivors.

    This is a SERVING-BATCH operator: the query vectors are collected to
    the driver and the Q×m×n_codes LUT ships to every task through the
    closure, so Q is a hard capacity parameter, enforced via
    ``MAX_QUERY_BATCH`` (4096 queries ≈ 8 MB of LUT at
    m=8/n_codes=256 — well under broadcast comfort). Larger query sets
    should be chunked by the caller (results are per-query independent, so
    a union of chunked calls is exact) or joined corpus-to-corpus via the
    LSH/IVF paths instead.

    Scores are approximate inner products (sub-centroid IPs); rank is by
    ADC score with neighbor-id tie-break. Output: (query_id, neighbor_id,
    adc_score, rank); a query is never its own neighbor."""
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, n_codes, sub = cb.shape
    query_id_col = query_id_col or id_col
    qrows = queries.limit(MAX_QUERY_BATCH + 1).select(
        F.col(query_id_col).alias("query_id"), _as_double_array(vec_col).alias("__qv")
    ).collect()
    if not qrows:
        raise ValueError("queries is empty")
    if len(qrows) > MAX_QUERY_BATCH:
        raise ValueError(
            f"query batch exceeds MAX_QUERY_BATCH={MAX_QUERY_BATCH}: the "
            "driver-side ADC LUT is sized per query — chunk the query set "
            "and union the (per-query independent) results, or use the "
            "LSH/IVF index paths for corpus-scale query sets"
        )
    q_ids = np.array([r["query_id"] for r in qrows])
    q_mat = np.array([r["__qv"] for r in qrows], dtype=np.float64)
    # LUT[q, j, c] = <query_q subvector j, codebook j centroid c>
    lut = np.einsum("qjs,jcs->qjc", q_mat.reshape(len(q_ids), m, sub), cb)

    def score(batches):
        for pdf in batches:
            codes = np.array([np.asarray(c) for c in pdf[code_col]])
            ids = pdf["neighbor_id"].to_numpy()
            # scores[q, n] = sum_j LUT[q, j, codes[n, j]]: the (m,) index
            # broadcasts against codes (n, m) -> gather shape (Q, n, m)
            scores = lut[:, np.arange(m), codes].sum(axis=2)
            for qi in range(len(q_ids)):
                # mask the query's own row BEFORE truncating the partial
                # top-k: filtering after would let it crowd out the
                # batch's true k-th neighbor, which is then lost
                keep_mask = ids != q_ids[qi]
                s, batch_ids = scores[qi][keep_mask], ids[keep_mask]
                # score desc, then neighbor id asc: rank_topk's order, so
                # equal scores keep the lowest ids whatever the batching
                top = np.lexsort((batch_ids, -s))[:k]
                yield pd.DataFrame(
                    {
                        "query_id": q_ids[qi],
                        "neighbor_id": batch_ids[top],
                        "adc_score": s[top],
                    }
                )

    # derive id types from the actual inputs — ids are not always bigint
    nid_type = corpus_codes.schema[id_col].dataType.simpleString()
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    partials = corpus_codes.select(
        F.col(id_col).alias("neighbor_id"), code_col
    ).mapInPandas(
        score,
        schema=(
            f"query_id {qid_type}, neighbor_id {nid_type}, adc_score double"
        ),
    )
    return rank_topk(partials, k, score="adc_score", out="adc_score")


def pq_topk_reranked(
    corpus: DataFrame,
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Two-stage PQ serving (the FAISS IVF-PQ + refine shape): ADC over
    the compressed codes picks a ``shortlist`` per query, then ONLY those
    rows' full vectors are read back (semi-join on neighbor_id — at scale
    a point-lookup fraction of the corpus) for an exact-cosine re-rank.
    Quantization error affects which rows make the shortlist, never the
    final ordering — on tightly-bunched neighbors this is the difference
    between ~0.3 and ~0.9 recall@5 at 64x compression."""
    short = pq_adc_topk(
        corpus_codes,
        queries,
        codebooks,
        k=shortlist,
        id_col=id_col,
        vec_col=vec_col,
        code_col=code_col,
    ).select("query_id", "neighbor_id")
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double_array(vec_col).alias("__cv")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), _as_double_array(vec_col).alias("__qv")
    )
    reranked = (
        short.join(vecs, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qv"), F.col("__cv")).alias("__sim"),
        )
    )
    return rank_topk(reranked, k)
