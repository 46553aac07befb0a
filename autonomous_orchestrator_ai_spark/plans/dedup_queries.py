"""Dedup queries over ``documents`` with exact DuckDB-oracle replicas.

The portable-hash design (md5 hex strings, operators/dedup.py) exists
precisely so these oracles can recompute MinHash/SimHash bit-for-bit in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions.text import fingerprint
from autonomous_orchestrator_ai_spark.operators.dedup import (
    MINHASH_CAND_ROW_BYTES,
    WINNOW_CAND_ROW_BYTES,
    edit_verified_near_duplicates,
    exact_dedup_by_fingerprint,
    minhash_near_duplicates,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    simhash_duplicate_groups,
)
from autonomous_orchestrator_ai_spark.plans.registry import register, table
from autonomous_orchestrator_ai_spark.routes import record_route

# --- shared DuckDB fragments (mirror functions/text.py exactly) -----------

#: normalized text (lower, trim, collapse whitespace) — note DuckDB needs 'g'.
NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

#: distinct word 3-gram shingles of the normalized text.
SHINGLES_SQL = f"""
  list_distinct(
    list_transform(
      range(1, greatest(len(string_split({NORM_SQL}, ' ')) - 2, 1) + 1),
      i -> array_to_string((string_split({NORM_SQL}, ' '))[i:i+2], ' ')
    )
  )
""".strip()

NUM_HASHES = 8
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS

# --- cost-routed LSH hot-bucket guards (r8, VERDICT r7 items 1-2) ----------

#: spill budget for the UNGUARDED LSH band join + verify (bytes). Separate
#: knob from the exact-Jaccard budget because it prices a different plan
#: (band-bucket self-join + candidate-restricted verify, not the
#: inverted-index join). Default 64 GiB — calibrated against the round-7
#: fourth octave on this host's 78 GB scratch disk: minhash at sf1000
#: measured ~48 GB of transient spill and completed (the guard must stay
#: OFF there — it loses zero pairs and the unguarded form is faster),
#: while the projected sf3000 spill exhausts the disk (the guard must be
#: ON before then). A cluster deployment sets it from the executors'
#: aggregate shuffle capacity.
LSH_SPILL_BUDGET_ENV = "SPARK_GRAFT_LSH_SPILL_BUDGET_BYTES"
DEFAULT_LSH_SPILL_BUDGET_BYTES = 64 * 1024**3

#: deterministic per-bucket sample size when a guard engages (the r7 cap).
_MLSH_CAP = 64

#: single-pass transient budget for the winnowing screen+verify (r9,
#: VERDICT r8 item 2): when the pre-flight's GUARDED-branch transient
#: estimate (capped candidates x ~1.1 KB screen rows) exceeds this, the
#: operator auto-slices the screen+verify into as many sequential
#: hash-slices as ``dedup.slice_count`` prices (result-invariant).
#: Default 12 GiB, re-sized by the r9 sf1000 ENOSPC post-mortem: the
#: first 24 GiB default ignored (a) the ~2x sort-merge double-buffering
#: now priced by the router's factor and (b) that by slicing time the pinned payload caches (bottom-k table,
#: candidate cache, accumulated slice checkpoints) had already consumed
#: ~40 GB of this host's ~94 GB scratch, leaving ~24 GB — one
#: zero-margin slice. Budget semantics: the SPILL PEAK a single slice
#: may occupy on top of whatever is already pinned; over-slicing is
#: cheap (each extra slice is one pair-scale job against hoisted
#: caches), under-slicing is an ENOSPC. A cluster raises it to the
#: executors' aggregate spill capacity and runs single-pass far longer.
WINNOW_SLICE_BUDGET_ENV = "SPARK_GRAFT_WINNOW_SLICE_BUDGET_BYTES"
DEFAULT_WINNOW_SLICE_BUDGET_BYTES = 12 * 1024**3


def _int_env(name: str, default: int) -> int:
    """Parse an integer env knob, failing with a message that names the
    variable (r9, ADVICE r8: a bare int() on a typo'd value crashed query
    CONSTRUCTION with an opaque ValueError)."""
    import os

    raw = os.environ.get(name)
    if raw is None or raw.strip() == "":
        return default
    try:
        return int(raw)
    except ValueError:
        raise ValueError(
            f"{name} must be an integer (got {raw!r}); unset it or export "
            f"a plain byte/count value, e.g. {name}={default}"
        ) from None


def _lsh_budget_bytes() -> int:
    return _int_env(LSH_SPILL_BUDGET_ENV, DEFAULT_LSH_SPILL_BUDGET_BYTES)


def _winnow_slice_budget_bytes() -> int:
    return _int_env(WINNOW_SLICE_BUDGET_ENV, DEFAULT_WINNOW_SLICE_BUDGET_BYTES)


def _duckdb_docs_view(sf_dir: str):
    """A DuckDB connection with ``documents`` registered, for profile
    replays inside callable oracles."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    return con


def _minhash_sql(j: int) -> str:
    # hash family j = hex chars [8j, 8j+8) of the combined 64-hex digest
    # md5(s) || md5('#'||s) — mirrors operators.dedup.chunked_minhash
    # exactly (substr is 1-based in both; 32-bit chunks, see its docstring)
    return (
        "list_min(list_transform(sh, s -> "
        f"substr(md5(s) || md5('#' || s), {1 + 8 * j}, 8)))"
    )


@register(
    "dedup_exact_summary",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5({NORM_SQL})) AS BIGINT) AS n_unique_fingerprints,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique_texts
    FROM documents
    """,
)
def dedup_exact_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup profile: total vs distinct fingerprints (md5 of
    normalized text). Shuffles 16-byte digests, never document bodies."""
    docs = table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(fingerprint("text")).alias("n_unique_fingerprints"),
        F.countDistinct("text").alias("n_unique_texts"),
    )


@register(
    "dedup_keep_first",
    oracle=f"""
    WITH fp AS (SELECT doc_id, md5({NORM_SQL}) f, n_chars FROM documents),
    keep AS (SELECT f, MIN(doc_id) doc_id FROM fp GROUP BY f)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_survivors,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
    FROM keep k JOIN fp d ON k.doc_id = d.doc_id
    """,
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivors of keep-smallest-id content dedup
    (operators.dedup.exact_dedup_by_fingerprint)."""
    docs = table(spark, sf_dir, "documents")
    survivors = exact_dedup_by_fingerprint(docs, "text", "doc_id")
    return survivors.agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum("n_chars").alias("total_chars"),
    )


def _bands_case_sql() -> str:
    cases = []
    for b in range(BANDS):
        cols = " || '|' || ".join(
            f"m{j}" for j in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
        )
        cases.append(f"WHEN {b} THEN md5({cols})")
    return "CASE band_id " + " ".join(cases) + " END"


_MLSH_PREFIX = f"""
    docs AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    sigs AS (SELECT doc_id, sh,
                    {", ".join(f"{_minhash_sql(j)} AS m{j}" for j in range(NUM_HASHES))}
             FROM docs),
    banded AS (SELECT doc_id, band_id, {_bands_case_sql()} AS band_key
               FROM sigs CROSS JOIN (VALUES {", ".join(f"({b})" for b in range(BANDS))}) t(band_id))
""".strip()

#: bucket-salted deterministic sample draw (r8, ADVICE r7: an unsalted
#: per-id draw is perfectly correlated across buckets — one unlucky doc
#: would be evicted from EVERY hot bucket it occupies). Mirrors
#: operators.dedup._bucket_sample_cap exactly.
_SALTED_DRAW = (
    "md5('lshcap:' || CAST(band_id AS VARCHAR) || '|' || band_key"
    " || '|' || CAST(doc_id AS VARCHAR))"
)


def _mlsh_sql(capped: bool) -> str:
    cap_cte = (
        f""",
    capped AS (SELECT doc_id, band_id, band_key FROM banded
               QUALIFY row_number() OVER (
                   PARTITION BY band_id, band_key
                   ORDER BY {_SALTED_DRAW}, doc_id
               ) <= {_MLSH_CAP})"""
        if capped
        else ""
    )
    src = "capped" if capped else "banded"
    return f"""
    WITH {_MLSH_PREFIX}{cap_cte},
    cands AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
              FROM {src} a JOIN {src} b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
    verified AS (
      SELECT c.id_a, c.id_b,
             ROUND(len(list_intersect(da.sh, db.sh)) * 1.0 /
                   (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 6) AS jaccard
      FROM cands c JOIN docs da ON c.id_a = da.doc_id
                   JOIN docs db ON c.id_b = db.doc_id)
    SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
    """


def _mlsh_cand_rows(sf_dir: str) -> int:
    """Replay the Spark pre-flight's Σ n·(n-1)/2 over band buckets in
    DuckDB — identical banding, identical bigint arithmetic, so the route
    can never diverge between engines."""
    con = _duckdb_docs_view(sf_dir)
    total = con.execute(
        f"""
        WITH {_MLSH_PREFIX},
        b AS (SELECT COUNT(*) AS n FROM banded GROUP BY band_id, band_key)
        SELECT COALESCE(SUM(n * (n - 1)), 0) FROM b
        """
    ).fetchone()[0]
    con.close()
    return int(total) // 2


def _mlsh_oracle(sf_dir: str) -> str:
    est = MINHASH_CAND_ROW_BYTES * _mlsh_cand_rows(sf_dir)
    return _mlsh_sql(capped=est > _lsh_budget_bytes())


@register("minhash_lsh_near_dups", oracle=_mlsh_oracle)
def minhash_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8 hashes) + LSH(4 bands) near-dup pairs, Jaccard-verified at
    0.5 (operators.dedup.minhash_near_duplicates), with the cost-routed
    hot-bucket guard (r8, VERDICT r7 item 1): a one-aggregation pre-flight
    over the banded index estimates the band join's candidate shuffle
    (~20 B x Σ n·(n-1)/2 — the formula the fourth octave validated:
    ~48 GB measured transient spill at sf1000) and enables the
    deterministic per-bucket sample cap only past
    $SPARK_GRAFT_LSH_SPILL_BUDGET_BYTES (default 64 GiB). Below the
    crossover — every scale measured through sf1000 — the plan is
    bit-identical to the unguarded form and loses zero pairs; past it,
    hot-bucket pair output is bounded at cap² before the disk binds. The
    oracle replays the identical estimate, so both branches stay
    hash-exact."""
    docs = table(spark, sf_dir, "documents")
    # verify_budget_bytes (r9): the family's sf3000 wall is LINEAR verify
    # payload (~4 KB x candidates; 57.6 GB priced at sf1000 vs the 64 GiB
    # budget -> single-pass at every measured scale, plan bit-identical);
    # past the budget the verify sequences into runtime-priced
    # hash-slices — result-invariant, so the oracle is unaffected.
    return minhash_near_duplicates(
        docs, "text", "doc_id",
        num_hashes=NUM_HASHES, bands=BANDS, shingle_k=3, jaccard_threshold=0.5,
        max_bucket_sample=_MLSH_CAP,
        sample_budget_bytes=_lsh_budget_bytes(),
        verify_budget_bytes=_lsh_budget_bytes(),
    )


@register("minhash_lsh_near_dups_capped", oracle=_mlsh_sql(capped=True))
def minhash_lsh_near_dups_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned always-capped twin of ``minhash_lsh_near_dups``: the guard's
    ON branch (bucket-salted deterministic sample, cap {_MLSH_CAP}) held
    hash-exact against its static QUALIFY oracle at every checked scale
    regardless of where the auto route lands — so the branch the big
    corpora will take is oracle-anchored at the scales DuckDB can
    check."""
    docs = table(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, "text", "doc_id",
        num_hashes=NUM_HASHES, bands=BANDS, shingle_k=3, jaccard_threshold=0.5,
        max_bucket_sample=_MLSH_CAP,
    )


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH docs AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    exploded AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM docs),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_sh FROM exploded GROUP BY doc_id),
    shared AS (SELECT a.doc_id id_a, b.doc_id id_b, CAST(COUNT(*) AS BIGINT) shared
               FROM exploded a JOIN exploded b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id)
    SELECT s.id_a, s.id_b,
           ROUND(s.shared * 1.0 / (sa.n_sh + sb.n_sh - s.shared), 6) AS jaccard
    FROM shared s JOIN sizes sa ON s.id_a = sa.doc_id
                  JOIN sizes sb ON s.id_b = sb.doc_id
    WHERE ROUND(s.shared * 1.0 / (sa.n_sh + sb.n_sh - s.shared), 6) >= 0.2
    """,
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs >= 0.2 via inverted-index self-join
    (operators.dedup.ngram_jaccard_pairs)."""
    docs = table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "text", "doc_id", shingle_k=3, threshold=0.2)


@register(
    "ngram_containment_pairs",
    oracle=f"""
    WITH docs AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    exploded AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM docs),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_sh FROM exploded GROUP BY doc_id),
    shared AS (SELECT a.doc_id id_a, b.doc_id id_b, CAST(COUNT(*) AS BIGINT) shared
               FROM exploded a JOIN exploded b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id),
    scored AS (
      SELECT s.id_a, s.id_b, s.shared, sa.n_sh AS n_a, sb.n_sh AS n_b,
             ROUND(s.shared * 1.0 / least(sa.n_sh, sb.n_sh), 6) AS containment,
             ROUND(s.shared * 1.0 / (sa.n_sh + sb.n_sh - s.shared), 6) AS jaccard
      FROM shared s JOIN sizes sa ON s.id_a = sa.doc_id
                    JOIN sizes sb ON s.id_b = sb.doc_id)
    SELECT CASE WHEN n_a < n_b OR (n_a = n_b AND id_a < id_b)
                THEN id_a ELSE id_b END AS contained_id,
           CASE WHEN n_a < n_b OR (n_a = n_b AND id_a < id_b)
                THEN id_b ELSE id_a END AS container_id,
           containment, jaccard
    FROM scored WHERE containment >= 0.6
    """,
)
def ngram_containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle-containment pairs >= 0.6 — the subset-duplicate
    detector for short docs embedded in longer ones, where Jaccard dilutes
    (operators.dedup.ngram_containment_pairs). The jaccard column is
    reported alongside to make the divergence auditable."""
    docs = table(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        docs, "text", "doc_id", shingle_k=3, threshold=0.6
    )


@register(
    "edit_verified_near_dups",
    oracle=f"""
    WITH docs AS (SELECT doc_id, substr({NORM_SQL}, 1, 2000) AS t,
                         {SHINGLES_SQL} AS sh FROM documents),
    sigs AS (SELECT doc_id, sh,
                    {", ".join(f"{_minhash_sql(j)} AS m{j}" for j in range(NUM_HASHES))}
             FROM docs),
    banded AS (SELECT doc_id, band_id, {_bands_case_sql()} AS band_key
               FROM sigs CROSS JOIN (VALUES {", ".join(f"({b})" for b in range(BANDS))}) t(band_id)),
    cands AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
              FROM banded a JOIN banded b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
    verified AS (
      SELECT c.id_a, c.id_b,
             ROUND(1.0 - levenshtein(da.t, db.t) * 1.0 /
                   greatest(length(da.t), length(db.t), 1), 6) AS edit_similarity,
             CAST(levenshtein(da.t, db.t) AS INTEGER) AS edit_distance
      FROM cands c JOIN docs da ON c.id_a = da.doc_id
                   JOIN docs db ON c.id_b = db.doc_id)
    SELECT id_a, id_b, edit_similarity, edit_distance
    FROM verified WHERE edit_similarity >= 0.4
    """,
)
def edit_verified_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by true Levenshtein similarity at 0.4
    (operators.dedup.edit_verified_near_duplicates) — the order-sensitive
    verifier Jaccard can't express; same banded candidate generation as
    minhash_lsh_near_dups, so the scale bound is identical."""
    docs = table(spark, sf_dir, "documents")
    return edit_verified_near_duplicates(
        docs, "text", "doc_id",
        num_hashes=NUM_HASHES, bands=BANDS, shingle_k=3,
        similarity_threshold=0.4, max_chars=2000,
    )


def _simhash_sql(bits: int = 16) -> str:
    toks = f"list_distinct(string_split({NORM_SQL}, ' '))"
    terms = []
    for b in range(bits):
        parity = (
            f"list_sum(list_transform(toks, t -> "
            f"CAST(('0x' || substr(md5(t), {b + 1}, 1)) AS INTEGER) % 2))"
        )
        terms.append(
            f"(CASE WHEN COALESCE({parity}, 0) * 2 >= len(toks) THEN 1 ELSE 0 END) * {2**b}"
        )
    inner = " + ".join(terms)
    return f"(SELECT CAST({inner} AS BIGINT) FROM (SELECT {toks} AS toks) _t)"


@register(
    "simhash_collision_groups",
    oracle=f"""
    WITH sigs AS (SELECT doc_id, {_simhash_sql(16)} AS simhash FROM documents)
    SELECT simhash, CAST(COUNT(*) AS BIGINT) AS n_docs,
           array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
    FROM sigs GROUP BY simhash HAVING COUNT(*) >= 2
    """,
)
def simhash_collision_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash collision groups (Hamming distance 0)
    (operators.dedup.simhash_duplicate_groups)."""
    docs = table(spark, sf_dir, "documents")
    groups = simhash_duplicate_groups(docs, "text", "doc_id", bits=16)
    return groups.select(
        "simhash",
        "n_docs",
        F.array_join(F.col("doc_ids"), ",").alias("doc_ids"),
    )


# --- winnowing (rolling-hash) fingerprints --------------------------------

_WK, _WW = 8, 4  # k-gram chars, winnow window

#: norm text must live in a CTE: inlining it into the per-gram lambda makes
#: the oracle recompute the regex normalization once PER GRAM (O(n^2) —
#: observed 90s vs 1.4s at sf0.01).
_NORM_CTE = "SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nm FROM documents"

_GRAM_HASHES = (
    f"list_transform(range(1, greatest(len(nm) - {_WK} + 2, 2)), "
    f"i -> CAST(('0x' || substr(md5(nm[i:i+{_WK - 1}]), 1, 8)) AS BIGINT))"
)
_SKETCH = (
    f"list_distinct(list_transform(range(1, greatest(len(h) - {_WW} + 2, 2)), "
    f"j -> list_min(h[j:j+{_WW - 1}])))"
)


@register(
    "doc_winnowing_sketches",
    oracle=f"""
    WITH d AS ({_NORM_CTE}),
    g AS (SELECT doc_id, {_GRAM_HASHES} AS h FROM d WHERE doc_id < 100),
    s AS (SELECT doc_id, CAST(len(h) AS BIGINT) AS n_grams, {_SKETCH} AS sk FROM g)
    SELECT doc_id, n_grams,
           CAST(len(sk) AS BIGINT) AS sketch_size,
           array_to_string(list_sort(sk), ',') AS sketch
    FROM s
    """,
)
def doc_winnowing_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (functions.text.winnowing_sketch,
    k=8 chars, window 4) for the first 100 docs — the positional/substring
    fingerprint family next to the bag-of-words md5 `doc_fingerprints`.
    Whole sketch is one per-row expression; no shuffle."""
    from autonomous_orchestrator_ai_spark.functions.text import (
        char_gram_hashes,
        winnowing_sketch,
    )

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        F.size(char_gram_hashes("text", _WK)).cast("bigint").alias("n_grams"),
        F.size(winnowing_sketch("text", _WK, _WW)).cast("bigint").alias("sketch_size"),
        F.array_join(
            F.sort_array(winnowing_sketch("text", _WK, _WW)), ","
        ).alias("sketch"),
    )


#: exact-anchor slice bound for the winnowing all-candidates baseline: the
#: inverted-index join's cost tracks hot-hash document frequency, which the
#: sf1 sweep measured at 440 s (hours at sf10). The anchor's job is to pin
#: the LSH scale form's containment scores on a VERIFIABLE subset, so its
#: input is capped at the full sf<=0.1 corpus size — identical results at
#: test scales, bounded forever above them (same pinning as
#: similarity_queries._ALLPAIRS_MAX_ID).
_WINNOW_ANCHOR_MAX_ID = 5000


@register(
    "winnowing_near_dup_pairs",
    oracle=f"""
    WITH d AS ({_NORM_CTE} WHERE doc_id < {_WINNOW_ANCHOR_MAX_ID}),
    g AS (SELECT doc_id, {_GRAM_HASHES} AS h FROM d),
    s AS (SELECT doc_id, {_SKETCH} AS sk FROM g),
    e AS (SELECT doc_id, len(sk) AS sz, unnest(sk) AS hh FROM s),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(COUNT(*) AS BIGINT) AS shared,
                 MIN(least(a.sz, b.sz)) AS msz
          FROM e a JOIN e b ON a.hh = b.hh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b, shared, ROUND(shared * 1.0 / msz, 6) AS containment
    FROM p WHERE shared * 1.0 / msz >= 0.6
    """,
)
def winnowing_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-sensitive near-dup pairs via winnowing-sketch containment
    >= 0.6 (operators.dedup.winnowing_near_duplicates). The inverted-index
    join runs on ~1/w of the gram count; the min-sketch-size denominator
    makes embedded copies score 1.0. EXACT baseline — the sf1 run showed
    hot common-phrase hashes dominating its join (440s, the slowest query
    in the whole sweep); `winnowing_near_dup_pairs_lsh` below is the
    scale form (a hash-df cap was tried first and measured to zero out
    recall on this low-entropy corpus — signal hashes ARE the common
    hashes here). The input slice is pinned at doc_id <
    ``_WINNOW_ANCHOR_MAX_ID`` so the anchor stays O(1) as sf grows —
    it must never ride a headline bench set at sf >= 1."""
    from autonomous_orchestrator_ai_spark.operators.dedup import (
        winnowing_near_duplicates,
    )

    docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _WINNOW_ANCHOR_MAX_ID
    )
    return winnowing_near_duplicates(
        docs, "text", "doc_id", k=_WK, w=_WW, containment=0.6
    )


#: minhash chunk j over the stringified sketch list `skm` (32-bit chunks of
#: the combined digest — same scale rationale as chunked_minhash)
def _sk_minhash_sql(j: int) -> str:
    return (
        "list_min(list_transform(skm, s -> "
        f"substr(md5(s) || md5('#' || s), {1 + 8 * j}, 8)))"
    )


def _sk_bands_case_sql() -> str:
    cases = []
    for b in range(BANDS):
        cols = " || '|' || ".join(
            f"m{j}" for j in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
        )
        cases.append(f"WHEN {b} THEN md5({cols})")
    return "CASE band_id " + " ".join(cases) + " END"


#: winnowing-LSH scale guards (round-7 sf100 probe): deterministic
#: per-band-bucket sample cap, bottom-k KMV screen size, and the screen's
#: containment cut as an exact rational (9/20 = 0.45 — threshold 0.6 minus
#: a 0.15 estimator margin). All three replay bit-for-bit in the oracle.
_WLSH_CAP = 64
_WLSH_SCREEN_K = 64
_WLSH_CUT = (9, 20)


_WLSH_PREFIX = f"""
    d AS ({_NORM_CTE}),
    g AS (SELECT doc_id, {_GRAM_HASHES} AS h FROM d),
    s AS (SELECT doc_id, {_SKETCH} AS sk FROM g),
    m AS (SELECT doc_id, list_transform(sk, x -> CAST(x AS VARCHAR)) AS skm
          FROM s),
    sigs AS (SELECT doc_id, skm,
                    {", ".join(f"{_sk_minhash_sql(j)} AS m{j}" for j in range(NUM_HASHES))}
             FROM m),
    banded AS (SELECT doc_id, band_id, {_sk_bands_case_sql()} AS band_key
               FROM sigs CROSS JOIN (VALUES {", ".join(f"({b})" for b in range(BANDS))}) t(band_id))
""".strip()


def _wlsh_sql(guarded: bool) -> str:
    if guarded:
        mid = f""",
    capped AS (SELECT doc_id, band_id, band_key FROM banded
               QUALIFY row_number() OVER (
                   PARTITION BY band_id, band_key
                   ORDER BY {_SALTED_DRAW}, doc_id
               ) <= {_WLSH_CAP}),
    cands AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
              FROM capped a JOIN capped b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
    bk AS (SELECT doc_id, len(sk) AS sz,
                  list_sort(sk)[1:{_WLSH_SCREEN_K}] AS bks
           FROM s),
    scr AS (SELECT c.id_a, c.id_b
            FROM cands c JOIN bk a ON c.id_a = a.doc_id
                         JOIN bk b ON c.id_b = b.doc_id,
            LATERAL (SELECT list_sort(list_distinct(list_concat(a.bks, b.bks)))[1:{_WLSH_SCREEN_K}] AS uk) u,
            LATERAL (SELECT len(u.uk) AS kp,
                            len(list_intersect(list_intersect(u.uk, a.bks), b.bks)) AS ik) e
            WHERE CAST({_WLSH_CUT[1]} AS BIGINT) * e.ik * (a.sz + b.sz)
                  >= CAST({_WLSH_CUT[0]} AS BIGINT) * least(a.sz, b.sz) * (e.kp + e.ik))"""
        verify_src = "scr"
    else:
        mid = """,
    scr AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
              FROM banded a JOIN banded b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id)"""
        verify_src = "scr"
    return f"""
    WITH {_WLSH_PREFIX}{mid},
    v AS (SELECT c.id_a, c.id_b,
                 CAST(len(list_intersect(sa.sk, sb.sk)) AS BIGINT) AS shared,
                 least(len(sa.sk), len(sb.sk)) AS msz
          FROM {verify_src} c JOIN s sa ON c.id_a = sa.doc_id
                     JOIN s sb ON c.id_b = sb.doc_id)
    SELECT id_a, id_b, shared, ROUND(shared * 1.0 / msz, 6) AS containment
    FROM v WHERE shared * 1.0 / msz >= 0.6
    """


def _wlsh_cand_rows(sf_dir: str) -> int:
    """DuckDB replay of the winnowing pre-flight's Σ n·(n-1)/2 over the
    sketch-set band buckets — same CTEs as the oracle itself."""
    con = _duckdb_docs_view(sf_dir)
    total = con.execute(
        f"""
        WITH {_WLSH_PREFIX},
        b AS (SELECT COUNT(*) AS n FROM banded GROUP BY band_id, band_key)
        SELECT COALESCE(SUM(n * (n - 1)), 0) FROM b
        """
    ).fetchone()[0]
    con.close()
    return int(total) // 2


def _wlsh_oracle(sf_dir: str) -> str:
    est = WINNOW_CAND_ROW_BYTES * _wlsh_cand_rows(sf_dir)
    return _wlsh_sql(guarded=est > _lsh_budget_bytes())


@register("winnowing_near_dup_pairs_lsh", oracle=_wlsh_oracle)
def winnowing_near_dup_pairs_lsh_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scale form of `winnowing_near_dup_pairs`
    (operators.dedup.winnowing_near_duplicates_lsh): MinHash-LSH over the
    winnowing sketch sets — banded signature join for candidates, then
    exact containment verify of candidates only. The round-7 scale guards
    (deterministic hot-bucket sample cap + bounded bottom-k KMV
    containment screen) are COST-ROUTED as of r8 (VERDICT r7 item 2):
    always-on they completed sf100 where the unguarded form exhausted the
    disk, but cost +36% at sf0.1 where zero hot buckets exist. A
    one-aggregation pre-flight estimates the unguarded verify volume
    (~10 KB x Σ n·(n-1)/2 — two ~5 KB sketch arrays per candidate, the
    PERF.md sf100 constant) and engages BOTH guards only past
    $SPARK_GRAFT_LSH_SPILL_BUDGET_BYTES. The oracle replays the identical
    estimate and serves the matching branch — banding, cap window,
    integer-compare screen, and verify all replay bit-for-bit either
    way."""
    from autonomous_orchestrator_ai_spark.operators.dedup import (
        winnowing_near_duplicates_lsh,
    )

    docs = table(spark, sf_dir, "documents")
    # bounded-transient routing (the sf1000 ENOSPC diagnosis): the
    # screen+verify runs in N sequential hash-slices, result IDENTICAL
    # to single-pass (disjoint-slice union), so the oracle is
    # unaffected. N is AUTO-ROUTED from the guard pre-flight against
    # $SPARK_GRAFT_WINNOW_SLICE_BUDGET_BYTES (r9 — VERDICT r8 item 2:
    # the last scale decision made by a human env var now derives from
    # the measured candidate profile).
    return winnowing_near_duplicates_lsh(
        docs, "text", "doc_id", k=_WK, w=_WW, containment=0.6,
        num_hashes=NUM_HASHES, bands=BANDS,
        max_bucket_sample=_WLSH_CAP, screen_k=_WLSH_SCREEN_K,
        screen_cut=_WLSH_CUT,
        guard_budget_bytes=_lsh_budget_bytes(),
        slice_budget_bytes=_winnow_slice_budget_bytes(),
    )


@register("winnowing_near_dup_pairs_lsh_guarded", oracle=_wlsh_sql(guarded=True))
def winnowing_near_dup_pairs_lsh_guarded_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pinned always-guarded twin of ``winnowing_near_dup_pairs_lsh``: the
    cap + KMV screen branch (the one sf100+ takes) held hash-exact against
    its static oracle at every checked scale regardless of where the auto
    route lands."""
    from autonomous_orchestrator_ai_spark.operators.dedup import (
        winnowing_near_duplicates_lsh,
    )

    docs = table(spark, sf_dir, "documents")
    return winnowing_near_duplicates_lsh(
        docs, "text", "doc_id", k=_WK, w=_WW, containment=0.6,
        num_hashes=NUM_HASHES, bands=BANDS,
        max_bucket_sample=_WLSH_CAP, screen_k=_WLSH_SCREEN_K,
        screen_cut=_WLSH_CUT,
    )


# --- connected-components dedup clustering ---------------------------------

#: n-gram Jaccard >= 0.2 pairs as the near-dup edge list, symmetrized, plus
#: the min-label fixpoint (DuckDB recursive CTE computes min reachable node
#: via transitive closure — fine at oracle scale; the Spark side iterates
#: label propagation instead, see operators/graph.py).
_CC_CTES = f"""
    docs AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    exploded AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM docs),
    sizes AS (SELECT doc_id, COUNT(*) n_sh FROM exploded GROUP BY doc_id),
    shared AS (SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) shared
               FROM exploded a JOIN exploded b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id),
    edges AS (SELECT s.id_a, s.id_b
              FROM shared s JOIN sizes sa ON s.id_a = sa.doc_id
                            JOIN sizes sb ON s.id_b = sb.doc_id
              WHERE ROUND(s.shared * 1.0 / (sa.n_sh + sb.n_sh - s.shared), 6) >= 0.2),
    sym AS (SELECT id_a AS s, id_b AS d FROM edges
            UNION SELECT id_b, id_a FROM edges),
    reach(s, d) AS (
      SELECT s, d FROM sym
      UNION
      SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
    ),
    comp AS (SELECT s AS node, LEAST(s, MIN(d)) AS component
             FROM reach GROUP BY s)
"""


def _ngram_edges(
    spark: SparkSession, sf_dir: str, postings: DataFrame | None = None
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_k=3, threshold=0.2, _exploded=postings
    )


@register(
    "near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_CC_CTES}
    SELECT component, CAST(COUNT(*) AS BIGINT) AS n_docs,
           array_to_string(list_sort(list(node)), ',') AS doc_ids
    FROM comp GROUP BY component
    """,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components (operators.graph —
    iterative min-label propagation) over the n-gram-Jaccard >= 0.2
    near-dup graph. One row per cluster with sorted members."""
    from autonomous_orchestrator_ai_spark.operators.graph import dedup_clusters

    return dedup_clusters(_ngram_edges(spark, sf_dir))


@register(
    "near_dup_clusters_star",
    oracle=f"""
    WITH RECURSIVE {_CC_CTES}
    SELECT component, CAST(COUNT(*) AS BIGINT) AS n_docs,
           array_to_string(list_sort(list(node)), ',') AS doc_ids
    FROM comp GROUP BY component
    """,
)
def near_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same duplicate clusters as ``near_dup_clusters``, computed by
    alternating large-star/small-star contraction
    (operators.graph.connected_components_star, Kiveris et al. SoCC'14)
    instead of min-label propagation — O(log^2 n) rounds independent of
    graph diameter, the adversarial-chain escape hatch the auto-switch
    falls back to. Registered with the SAME oracle so the two algorithms
    are pinned equivalent on real data, not just unit graphs."""
    from autonomous_orchestrator_ai_spark.operators.graph import (
        connected_components_star,
    )

    cc = connected_components_star(_ngram_edges(spark, sf_dir)).withColumnRenamed(
        "star_component", "component"
    )
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.array_join(F.sort_array(F.collect_list("node")), ",").alias("doc_ids"),
    )


@register(
    "near_dup_survivors",
    oracle=f"""
    WITH RECURSIVE {_CC_CTES}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_survivors,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d LEFT JOIN comp ON d.doc_id = comp.node
    WHERE COALESCE(comp.component, d.doc_id) = d.doc_id
    """,
)
def near_dup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus after cluster-level near-dup removal: smallest doc_id per
    connected component survives, edge-free docs survive as singletons
    (operators.graph.dedup_survivors). Summary mirrors dedup_keep_first
    so the two dedup severities are directly comparable."""
    from autonomous_orchestrator_ai_spark.operators.graph import dedup_survivors

    docs = table(spark, sf_dir, "documents")
    survivors = dedup_survivors(docs, _ngram_edges(spark, sf_dir), "doc_id")
    return survivors.agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "ngram_jaccard_pairs_guarded",
    oracle=f"""
    WITH docs AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    exploded0 AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM docs),
    dfreq AS (SELECT s, COUNT(*) AS df FROM exploded0 GROUP BY s),
    exploded AS (SELECT e.doc_id, e.s FROM exploded0 e
                 JOIN dfreq d ON e.s = d.s WHERE d.df <= 50),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_sh FROM exploded GROUP BY doc_id),
    shared AS (SELECT a.doc_id id_a, b.doc_id id_b, CAST(COUNT(*) AS BIGINT) shared
               FROM exploded a JOIN exploded b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id)
    SELECT s.id_a, s.id_b,
           ROUND(s.shared * 1.0 / (sa.n_sh + sb.n_sh - s.shared), 6) AS jaccard
    FROM shared s JOIN sizes sa ON s.id_a = sa.doc_id
                  JOIN sizes sb ON s.id_b = sb.doc_id
    WHERE ROUND(s.shared * 1.0 / (sa.n_sh + sb.n_sh - s.shared), 6) >= 0.2
    """,
)
def ngram_jaccard_pairs_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale form of exact n-gram Jaccard: shingles appearing in more
    than 50 docs are dropped before the self-join (max_shingle_df — the
    standard guard against boilerplate shingles whose df^2 candidate
    blowup dominates the join at corpus scale). Jaccard is then computed
    over the FILTERED shingle sets on both sides, which the oracle
    mirrors exactly. The df table is small (distinct shingles) and
    broadcasts into the explode."""
    docs = table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_k=3, threshold=0.2, max_shingle_df=50
    )


@register(
    "cross_source_leakage",
    oracle=f"""
    WITH docs AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    sigs AS (SELECT doc_id, sh,
                    {", ".join(f"{_minhash_sql(j)} AS m{j}" for j in range(NUM_HASHES))}
             FROM docs),
    banded AS (SELECT doc_id, band_id, {_bands_case_sql()} AS band_key
               FROM sigs CROSS JOIN (VALUES {", ".join(f"({b})" for b in range(BANDS))}) t(band_id)),
    cands AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
              FROM banded a JOIN banded b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
    verified AS (
      SELECT c.id_a, c.id_b,
             ROUND(len(list_intersect(da.sh, db.sh)) * 1.0 /
                   (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 6) AS jaccard
      FROM cands c JOIN docs da ON c.id_a = da.doc_id
                   JOIN docs db ON c.id_b = db.doc_id
      WHERE jaccard >= 0.5)
    SELECT least(sa.source, sb.source) AS source_a,
           greatest(sa.source, sb.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN sa.source <> sb.source THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cross,
           ROUND(AVG(v.jaccard), 4) AS avg_jaccard
    FROM verified v
    JOIN documents sa ON v.id_a = sa.doc_id
    JOIN documents sb ON v.id_b = sb.doc_id
    GROUP BY 1, 2
    """,
)
def cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup leakage matrix between corpus slices: MinHash-LSH pairs
    (jaccard >= 0.5) attributed to their (source_a, source_b) slice pair,
    pair order normalized. Cross-slice mass (n_cross > 0) is the signal a
    curation pipeline watches before claiming two sources are independent
    — e.g. a web crawl duplicating a curated corpus it was supposed to
    exclude. Cost = the already-bucketed LSH pair generation plus two
    source lookups (shuffle keyed by doc_id, broadcast under AQE when the
    doc dimension is small)."""
    docs = table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs)
    src = docs.select("doc_id", "source")
    attributed = (
        pairs.join(src.withColumnsRenamed({"doc_id": "id_a", "source": "src_a"}), "id_a")
        .join(src.withColumnsRenamed({"doc_id": "id_b", "source": "src_b"}), "id_b")
    )
    return attributed.groupBy(
        F.least("src_a", "src_b").alias("source_a"),
        F.greatest("src_a", "src_b").alias("source_b"),
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("src_a") != F.col("src_b")).cast("long")).alias("n_cross"),
        F.round(F.avg("jaccard"), 4).alias("avg_jaccard"),
    )


@register(
    "lsh_recall_report",
    oracle=f"""
    WITH docs AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    exploded AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM docs),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_sh FROM exploded GROUP BY doc_id),
    shared AS (SELECT a.doc_id id_a, b.doc_id id_b, CAST(COUNT(*) AS BIGINT) shared
               FROM exploded a JOIN exploded b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id),
    exact AS (
      SELECT s.id_a, s.id_b
      FROM shared s JOIN sizes sa ON s.id_a = sa.doc_id
                    JOIN sizes sb ON s.id_b = sb.doc_id
      WHERE ROUND(s.shared * 1.0 / (sa.n_sh + sb.n_sh - s.shared), 6) >= 0.5),
    sigs AS (SELECT doc_id, sh,
                    {", ".join(f"{_minhash_sql(j)} AS m{j}" for j in range(NUM_HASHES))}
             FROM docs),
    banded AS (SELECT doc_id, band_id, {_bands_case_sql()} AS band_key
               FROM sigs CROSS JOIN (VALUES {", ".join(f"({b})" for b in range(BANDS))}) t(band_id)),
    cands AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
              FROM banded a JOIN banded b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
    lsh AS (
      SELECT c.id_a, c.id_b
      FROM cands c JOIN docs da ON c.id_a = da.doc_id
                   JOIN docs db ON c.id_b = db.doc_id
      WHERE ROUND(len(list_intersect(da.sh, db.sh)) * 1.0 /
                  (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 6) >= 0.5)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lsh) AS n_lsh,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM lsh JOIN exact ON lsh.id_a = exact.id_a AND lsh.id_b = exact.id_b)
             AS n_matched,
           CASE WHEN (SELECT COUNT(*) FROM exact) = 0 THEN 1.0
                ELSE ROUND((SELECT COUNT(*) FROM lsh JOIN exact
                            ON lsh.id_a = exact.id_a AND lsh.id_b = exact.id_b) * 1.0
                           / (SELECT COUNT(*) FROM exact), 6) END AS recall
    """,
)
def lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metrology for the LSH shortcut: measured recall of MinHash-LSH
    near-dup pairs against the exact inverted-index Jaccard baseline at
    the same threshold (0.5) and shingle definition. Because LSH verifies
    exact Jaccard on its candidates, its pairs are a subset of the exact
    set and n_matched == n_lsh; the gap (n_exact - n_lsh) is pure banding
    miss — the quantity the (bands, rows-per-band) knobs trade against
    candidate volume. One row: n_exact, n_lsh, n_matched, recall."""
    docs = table(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, threshold=0.5).select("id_a", "id_b")
    lsh = minhash_near_duplicates(docs).select("id_a", "id_b")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    n_matched = lsh.join(exact, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_matched")
    )
    return (
        n_exact.crossJoin(n_lsh)
        .crossJoin(n_matched)
        .select(
            "n_exact",
            "n_lsh",
            "n_matched",
            F.when(F.col("n_exact") == 0, F.lit(1.0))
            .otherwise(
                F.round(F.col("n_matched") / F.col("n_exact"), 6)
            )
            .alias("recall"),
        )
    )


#: DuckDB mirror of operators.curation.assign_split (salt='split',
#: fractions (0.8, 0.1)) — thresholds from hex_threshold, inlined.
_SPLIT_SQL = """
  CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
         THEN 'train'
       WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
         THEN 'val'
       ELSE 'test' END
""".strip()


@register(
    "split_leakage_report",
    oracle=f"""
    WITH docs AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    sigs AS (SELECT doc_id, sh,
                    {", ".join(f"{_minhash_sql(j)} AS m{j}" for j in range(NUM_HASHES))}
             FROM docs),
    banded AS (SELECT doc_id, band_id, {_bands_case_sql()} AS band_key
               FROM sigs CROSS JOIN (VALUES {", ".join(f"({b})" for b in range(BANDS))}) t(band_id)),
    cands AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
              FROM banded a JOIN banded b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM cands c JOIN docs da ON c.id_a = da.doc_id
                   JOIN docs db ON c.id_b = db.doc_id
      WHERE ROUND(len(list_intersect(da.sh, db.sh)) * 1.0 /
                  (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 6) >= 0.5),
    splits AS (SELECT doc_id, {_SPLIT_SQL} AS split,
                      CASE {_SPLIT_SQL} WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END AS rk
               FROM documents),
    attributed AS (
      SELECT CASE WHEN sa.rk <= sb.rk THEN sa.split ELSE sb.split END AS split_a,
             CASE WHEN sa.rk <= sb.rk THEN sb.split ELSE sa.split END AS split_b,
             CASE WHEN sa.rk <= sb.rk THEN v.id_b ELSE v.id_a END AS later_doc
      FROM verified v JOIN splits sa ON v.id_a = sa.doc_id
                      JOIN splits sb ON v.id_b = sb.doc_id)
    SELECT split_a, split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT later_doc) AS BIGINT) AS n_leaked_docs
    FROM attributed GROUP BY 1, 2
    """,
)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test contamination audit: near-dup pairs (MinHash-LSH,
    verified jaccard >= 0.5) attributed to their split pair under the
    deterministic md5 split (operators.curation.assign_split, 80/10/10).
    Cross-split rows — especially (train, val)/(train, test) — are eval
    contamination; n_leaked_docs counts the distinct LATER-split documents
    whose eval integrity is compromised (the set you drop or re-split).
    The split is a per-row expression, so the audit costs exactly one
    bucketed LSH pass plus two doc_id-keyed lookups."""
    from autonomous_orchestrator_ai_spark.operators.curation import (
        assign_split,
    )

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs)
    rk = F.when(F.col("split") == "train", 0).when(
        F.col("split") == "val", 1
    ).otherwise(2)
    splits = assign_split(docs.select("doc_id")).select(
        "doc_id", "split", rk.alias("rk")
    )
    a = splits.withColumnsRenamed(
        {"doc_id": "id_a", "split": "split_x", "rk": "rk_a"}
    )
    b = splits.withColumnsRenamed(
        {"doc_id": "id_b", "split": "split_y", "rk": "rk_b"}
    )
    attributed = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.when(F.col("rk_a") <= F.col("rk_b"), F.col("split_x"))
            .otherwise(F.col("split_y"))
            .alias("split_a"),
            F.when(F.col("rk_a") <= F.col("rk_b"), F.col("split_y"))
            .otherwise(F.col("split_x"))
            .alias("split_b"),
            F.when(F.col("rk_a") <= F.col("rk_b"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("later_doc"),
        )
    )
    return attributed.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("later_doc").alias("n_leaked_docs"),
    )


#: cluster-unit split mirror (salt='csplit', fractions (0.8, 0.1)): the
#: draw hashes the split UNIT (component id, or the doc's own id for
#: singletons) through the same hex thresholds as _SPLIT_SQL.
_CSPLIT_SQL = """
  CASE WHEN substr(md5('csplit:' || CAST(split_unit AS VARCHAR)), 1, 4) < 'cccd'
         THEN 'train'
       WHEN substr(md5('csplit:' || CAST(split_unit AS VARCHAR)), 1, 4) < 'e666'
         THEN 'val'
       ELSE 'test' END
""".strip()


@register(
    "cluster_safe_split_report",
    oracle=f"""
    WITH RECURSIVE {_CC_CTES},
    assigned AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS split_unit
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
    labeled AS (
      SELECT doc_id, split_unit, {_CSPLIT_SQL} AS split FROM assigned),
    viol AS (
      SELECT split_unit FROM labeled
      GROUP BY split_unit HAVING COUNT(DISTINCT split) > 1)
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT split_unit) AS BIGINT) AS n_units,
           CAST((SELECT COUNT(*) FROM viol) AS BIGINT) AS n_violating_units
    FROM labeled GROUP BY split
    """,
)
def cluster_safe_split_report(
    spark: SparkSession, sf_dir: str, _postings: DataFrame | None = None
) -> DataFrame:
    """The FIX for what ``split_leakage_report`` measures: assign splits
    with the near-dup CLUSTER as the atomic unit
    (operators.curation.cluster_safe_split over the same n-gram-Jaccard
    >= 0.2 edge list as ``near_dup_clusters``). Per split: docs, units,
    and the cross-split-unit violation count — the oracle recomputes the
    clustering AND the unit draw from scratch, so n_violating_units = 0
    is a verified property of the construction, not an assertion."""
    from autonomous_orchestrator_ai_spark.operators.curation import (
        cluster_safe_split,
    )
    from autonomous_orchestrator_ai_spark.operators.graph import (
        connected_components,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    comp = connected_components(_ngram_edges(spark, sf_dir, _postings))
    labeled = cluster_safe_split(docs, comp)
    viol = (
        labeled.groupBy("split_unit")
        .agg(F.count_distinct("split").alias("ns"))
        .where(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_violating_units"))
    )
    return (
        labeled.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("split_unit").cast("bigint").alias("n_units"),
        )
        .crossJoin(F.broadcast(viol))
    )


@register(
    "cluster_safe_split_report_lsh",
    oracle=f"""
    WITH RECURSIVE
    docs AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    sigs AS (SELECT doc_id, sh,
                    {", ".join(f"{_minhash_sql(j)} AS m{j}" for j in range(NUM_HASHES))}
             FROM docs),
    banded AS (SELECT doc_id, band_id, {_bands_case_sql()} AS band_key
               FROM sigs CROSS JOIN (VALUES {", ".join(f"({b})" for b in range(BANDS))}) t(band_id)),
    cands AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
              FROM banded a JOIN banded b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
    edges AS (
      SELECT c.id_a, c.id_b
      FROM cands c JOIN docs da ON c.id_a = da.doc_id
                   JOIN docs db ON c.id_b = db.doc_id
      WHERE ROUND(len(list_intersect(da.sh, db.sh)) * 1.0 /
                  (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))),
                  6) >= 0.2),
    sym AS (SELECT id_a AS s, id_b AS d FROM edges
            UNION SELECT id_b, id_a FROM edges),
    reach(s, d) AS (
      SELECT s, d FROM sym
      UNION
      SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
    ),
    comp AS (SELECT s AS node, LEAST(s, MIN(d)) AS component
             FROM reach GROUP BY s),
    assigned AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS split_unit
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
    labeled AS (
      SELECT doc_id, split_unit, {_CSPLIT_SQL} AS split FROM assigned),
    viol AS (
      SELECT split_unit FROM labeled
      GROUP BY split_unit HAVING COUNT(DISTINCT split) > 1)
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT split_unit) AS BIGINT) AS n_units,
           CAST((SELECT COUNT(*) FROM viol) AS BIGINT) AS n_violating_units
    FROM labeled GROUP BY split
    """,
)
def cluster_safe_split_report_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cluster_safe_split_report`` with the near-dup edges generated by
    MinHash-LSH banding + exact verification on candidates only
    (operators.dedup.minhash_near_duplicates at the same Jaccard >= 0.2)
    instead of the full inverted-index self-join — the 100 TB edge path.

    Why this variant exists (round-6 sf100 probe): the exact inverted
    index is LINEAR in corpus size but with a heavy constant — at this
    corpus's shingle-df profile it shuffles ~15 KB of candidate pairs per
    document (sum over shingles of df^2; max df only 25, so no df-guard
    can cut it), which at 5M docs is ~76 GB of spill — more than this
    host's disk. Banding prunes candidates to probable-near-dup pairs
    BEFORE any shuffle materializes, trading a bounded recall loss
    (pairs that collide in no band) for candidate volume proportional to
    true near-dups. Both forms are deterministic and oracle-replayed;
    the edge sets differ only by band recall, so the report columns are
    directly comparable."""
    from autonomous_orchestrator_ai_spark.operators.curation import (
        cluster_safe_split,
    )
    from autonomous_orchestrator_ai_spark.operators.graph import (
        connected_components,
    )

    full = table(spark, sf_dir, "documents")
    edges = minhash_near_duplicates(
        full, "text", "doc_id",
        num_hashes=NUM_HASHES, bands=BANDS, shingle_k=3,
        jaccard_threshold=0.2,
    ).select("id_a", "id_b")
    comp = connected_components(edges)
    labeled = cluster_safe_split(full.select("doc_id"), comp)
    viol = (
        labeled.groupBy("split_unit")
        .agg(F.count_distinct("split").alias("ns"))
        .where(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_violating_units"))
    )
    return (
        labeled.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("split_unit").cast("bigint").alias("n_units"),
        )
        .crossJoin(F.broadcast(viol))
    )


# --- cost-based pre-flight routing for the exact cluster-safe split -------

#: spill budget for the exact inverted-index edge path (bytes). Default 32
#: GiB — comfortably inside this host's 78 GB scratch disk while leaving
#: room for the rest of the plan; a cluster deployment sets it from the
#: executors' aggregate shuffle capacity. The round-6 sf100 probe showed
#: the exact path needing ~76 GB at 5M docs — a planned routing decision
#: beats discovering that via a disk-full failure hours in.
SPILL_BUDGET_ENV = "SPARK_GRAFT_SPILL_BUDGET_BYTES"
DEFAULT_SPILL_BUDGET_BYTES = 32 * 1024**3

#: bytes per materialized candidate row in the inverted-index self-join
#: (two 64-bit ids + per-row shuffle overhead — the PERF.md constant).
PAIR_ROW_BYTES = 20


def _spill_budget_bytes() -> int:
    return _int_env(SPILL_BUDGET_ENV, DEFAULT_SPILL_BUDGET_BYTES)


def _exact_split_route(sum_df_sq: int) -> str:
    """"exact" when the inverted-index join's priced shuffle (Σ df² x
    ``PAIR_ROW_BYTES``) fits the spill budget, else "lsh"."""
    est, budget = PAIR_ROW_BYTES * sum_df_sq, _spill_budget_bytes()
    return record_route(
        "exact_split",
        inputs={"sum_df_sq": sum_df_sq, "pair_row_bytes": PAIR_ROW_BYTES},
        estimate=est,
        budget=budget,
        chosen="exact" if est <= budget else "lsh",
    )


def _auto_split_oracle(sf_dir: str) -> str:
    """Callable oracle: replay the SAME pre-flight estimate in DuckDB
    (identical shingle definition, identical Σ df² integer arithmetic —
    so the route can never diverge between engines) and return the chosen
    variant's static oracle."""
    import duckdb

    from autonomous_orchestrator_ai_spark.plans import registry

    sum_df_sq = duckdb.sql(
        f"""
        SELECT COALESCE(SUM(df * df), 0) FROM (
          SELECT sh, COUNT(*) AS df FROM (
            SELECT DISTINCT doc_id, unnest({SHINGLES_SQL}) AS sh
            FROM read_parquet('{sf_dir}/documents.parquet')
          ) GROUP BY sh)
        """
    ).fetchone()[0]
    name = (
        "cluster_safe_split_report"
        if _exact_split_route(int(sum_df_sq)) == "exact"
        else "cluster_safe_split_report_lsh"
    )
    return registry.ORACLES[name]


@register("cluster_safe_split_report_auto", oracle=_auto_split_oracle)
def cluster_safe_split_report_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-routed cluster-safe split (r7, VERDICT r6 item 4): run the
    ``exact_jaccard_cost_profile`` pre-flight (one aggregation over the
    shingle-df profile — hashes only), then route to the exact
    inverted-index edge path when its estimated candidate shuffle
    (~20 B x Σ df², the PERF.md formula validated by the sf100 probe)
    fits the configured spill budget ($SPARK_GRAFT_SPILL_BUDGET_BYTES,
    default 32 GiB), and to the MinHash-banded
    ``cluster_safe_split_report_lsh`` otherwise. At sf100's ~76 GB
    estimate this turns a disk-full death into a planned fallback; at
    every oracle-checked sf the estimate is far under budget, so the
    route is the exact form and the oracle (which replays the identical
    estimate in DuckDB) resolves to the exact oracle."""
    from autonomous_orchestrator_ai_spark.operators.dedup import (
        build_shingle_postings,
        exact_jaccard_cost_profile,
    )

    docs = table(spark, sf_dir, "documents")
    # Build the linear postings table ONCE and share it between the
    # pre-flight (df-profile aggregation) and — when the route is exact —
    # the inverted-index join itself, which starts from exactly this frame
    # (r9: the pre-flight and the routed path each ran their own corpus
    # shingle scan). Postings are linear in the corpus, so persisting them
    # before the route decision is scale-safe; only the df^2 join they
    # feed is what the budget gates. On the LSH route the table is
    # released immediately (that path never consumes shingle postings).
    postings = build_shingle_postings(docs, "text", "doc_id", shingle_k=3)
    est = exact_jaccard_cost_profile(
        docs,
        "text",
        "doc_id",
        shingle_k=3,
        bytes_per_pair_row=PAIR_ROW_BYTES,
        _exploded=postings,
    )
    if _exact_split_route(est["sum_df_sq"]) == "exact":
        return cluster_safe_split_report(spark, sf_dir, _postings=postings)
    postings.unpersist()
    return cluster_safe_split_report_lsh(spark, sf_dir)
