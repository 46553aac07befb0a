"""Deduplication operators for LLM training-data pipelines
(BASELINE.json north star; SURVEY.md §7.3 step 9).

Four families, each designed for the 100 TB regime:

- **exact**: hash-groupBy on a content fingerprint. One shuffle on the
  16-byte md5 key (not the full text); ``min_by`` keeps a deterministic
  canonical row per group.
- **MinHash + LSH**: shingle -> per-shingle portable hash -> per-band
  signature -> band-bucket self-join. Candidate generation never compares
  all pairs: the self-join is on (band, band_signature) buckets, so cost is
  O(sum of bucket sizes squared) — tiny when near-dups are rare. Hashes are
  md5-string based (engine-portable, seedless) so the DuckDB oracle can
  replay them bit-for-bit.
- **n-gram Jaccard**: inverted-index join on shared shingles; exact Jaccard
  from |A∩B| / (|A|+|B|-|A∩B|). The classic scale trick applies: drop
  ultra-common shingles (document frequency cap) before the join to bound
  the quadratic blowup on stop-shingles.
- **SimHash**: per-token md5 bits -> weighted bit-majority -> 16-bit
  signature; near-dups = signatures within Hamming distance d (grouped by
  signature for d=0, banded for d>0).

Embedding-cosine near-dup lives in ``operators.similarity``.

Caching contract: ``lsh_candidate_pairs`` / ``ngram_jaccard_pairs`` /
``winnowing_near_duplicates`` each ``persist()`` an internal index frame
that BOTH sides of their self-join consume (repartitioned on the join key
— measured 2x at sf1); the LSH verify stages additionally persist their
candidate-pair frame and the candidate-restricted payload frame (both
pair-scale — corpus-scale payload frames are deliberately NEVER cached,
see ``_restrict_to_candidates``). The frames are not unpersisted on
return because the returned DataFrame's lineage still reads them; callers
running many dedup jobs in one long session should call
``session.release_session_storage(spark)`` between independent units of
work (as ``bench.py`` does) or ``spark.catalog.clearCache()`` if no
localCheckpoint is live. Leaked cache blocks are evicted LRU under memory
pressure either way — the contract is about determinism of benchmarks, not
correctness.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import reduce
from urllib.parse import urlparse

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions.text import (
    fingerprint,
    normalized_text,
    word_shingles,
)
from autonomous_orchestrator_ai_spark.operators.partitioning import (
    ensure_min_parallelism,
    repartition_for_exploding_join,
)
from autonomous_orchestrator_ai_spark.routes import record_route

# ---------------------------------------------------------------------------
# Bounded hot-key guard (the ngram_jaccard_pairs df cap)
# ---------------------------------------------------------------------------

# Above this many hot keys the guard falls back to a broadcast anti-join
# instead of a literal IN predicate (plan-size safety valve; IN lists of
# thousands of md5 strings bloat the plan and codegen).
_HOT_SET_LITERAL_CAP = 1024


def _drop_hot_keys(frame: DataFrame, hot: DataFrame, on: list[str]) -> DataFrame:
    """Remove rows of ``frame`` whose key appears in ``hot``.

    The hot frame is BOUNDED by construction: a key is hot only if it
    accounts for > max_df rows, so |hot| <= rows / max_df —
    driver-side collection is safe regardless of corpus size. That bound
    buys a cheaper plan than the always-anti-join form:

    * 0 hot keys (the common case below ~sf1, where df caps rarely trip):
      return ``frame`` unchanged — the guard costs ONE count-job over the
      already-cached index and zero extra operators in the main plan.
      (The previous unconditional broadcast+anti-join paid a fixed two-job
      overhead even when there was nothing to drop — the r4 driver-bench
      regression on ``ngram_jaccard_pairs_guarded``, 0.36 -> 0.87 s.)
    * <= _HOT_SET_LITERAL_CAP keys: a literal NOT-IN filter evaluated
      inside the existing scan — no join, no broadcast, no extra shuffle.
    * more: broadcast left-anti join (same plan as before).

    ``on`` keys must be non-null (all call sites derive them from md5 /
    concat_ws / explode of non-null arrays) — NOT-IN over a null key would
    drop the row.
    """
    rows = hot.limit(_HOT_SET_LITERAL_CAP + 1).collect()
    if not rows:
        return frame
    if len(rows) <= _HOT_SET_LITERAL_CAP:
        if len(on) == 1:
            return frame.filter(~F.col(on[0]).isin([r[0] for r in rows]))
        # composite key: null-free collision-free stringification (band ids
        # are small ints, band keys md5 hex — the separator can't occur)
        sep = "\x1f"
        expr = F.concat_ws(sep, *[F.col(c).cast("string") for c in on])
        keys = [sep.join(str(r[c]) for c in on) for r in rows]
        return frame.filter(~expr.isin(keys))
    return frame.join(F.broadcast(hot), on, "left_anti")


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_by_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Content dedup: group by md5(normalized text), keep the row with the
    smallest id (deterministic canonical representative).

    Shuffles only (fingerprint, id) + carried columns; at 100 TB shuffle the
    fingerprint, not the document body: we re-join survivors to the source by
    id instead of dragging text through the exchange.
    """
    fp = df.select(F.col(id_col), fingerprint(text_col).alias("__fp"))
    keep = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    return df.join(keep, on=id_col, how="inner")


# ---------------------------------------------------------------------------
# Portable hashing (identical in Spark and DuckDB: md5 hex strings)
# ---------------------------------------------------------------------------


def chunked_minhash(hash_col: F.Column, j: int) -> F.Column:
    """Hash family j as hex chars [8j, 8j+8) of the doc's combined 64-hex
    digest (md5(s) || md5('#'||s)) — eight independent 32-BIT min-hashes
    from two md5 calls per shingle.

    Why 32 bits and not the original 16 (one digest, 4-hex chunks): with
    b-bit chunks, two UNRELATED docs whose sketch sets have ~m elements
    agree on a chunk's min with probability ~m/2^b — a constant per pair,
    so random band collisions (and therefore LSH candidates) grow as
    O(n^2 * m^2 / 2^2b). At 16 bits that term dominated real pairs 300:1
    by 500k docs (sf10 measured 7.9M candidates for 25k true pairs —
    quadratic, a 100 TB killer); at 32 bits the same term is ~1e-15 per
    band and the candidate count tracks true pairs at any corpus size.
    Fixed-width lowercase hex compares lexicographically == numerically,
    so array_min stays correct; candidates remain exact-verified, so
    widening only removes noise pairs (and the tie-inflated recall the
    16-bit form accidentally enjoyed — recall contracts re-pinned)."""
    return F.substring(hash_col, 1 + 8 * j, 8)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_k: int = 3,
    precomputed_shingles: bool = False,
) -> DataFrame:
    """(id, minhash_0..minhash_{n-1}) — per-doc MinHash signature.

    Computed without exploding and with TWO md5 calls per shingle: the
    64-hex combined digest md5(s) || md5('#'||s) yields eight independent
    32-bit chunks (``chunked_minhash`` — see its docstring for why 16-bit
    chunks collide quadratically at scale), so each minhash_j is
    ``array_min(transform(digests, h -> substr(h, 8j+1, 8)))`` — a
    per-row expression, zero shuffles, linear scan, and an expression
    tree small enough that whole-stage codegen JITs in ~1s. num_hashes <=
    8 with 8-char chunks (64 hex chars / 8). ``precomputed_shingles=True``
    treats ``text_col`` as an already-built array<string> shingle column."""
    assert num_hashes <= 8, "two md5 digests yield at most 8 8-hex-char chunks"
    shingle_col = (
        F.col(text_col) if precomputed_shingles else word_shingles(text_col, shingle_k)
    )
    sh = df.select(F.col(id_col), shingle_col.alias("__shingles"))
    prepared = sh.select(
        F.col(id_col),
        F.transform(
            F.col("__shingles"),
            lambda s: F.concat(F.md5(s), F.md5(F.concat(F.lit("#"), s))),
        ).alias("__digests"),
    )

    def _chunk_fn(j: int):
        # NB: factory, not a default-arg lambda — a two-parameter lambda
        # would be treated by F.transform as an (element, index) function.
        return lambda h: chunked_minhash(h, j)

    cols = [
        F.array_min(F.transform(F.col("__digests"), _chunk_fn(j))).alias(f"minhash_{j}")
        for j in range(num_hashes)
    ]
    return prepared.select(F.col(id_col), *cols)


# ---------------------------------------------------------------------------
# Bounded-transient mode: per-candidate prices, the slice pricer, the
# slice sequencer (shared by the minhash verify and the winnowing
# screen + verify)
# ---------------------------------------------------------------------------

#: bytes per pre-distinct band-join candidate row for the minhash family
#: (two ids + shuffle overhead — the verify is candidate-restricted and
#: distinct'd, so the band join dominates its spill; the PERF.md constant).
MINHASH_CAND_ROW_BYTES = 20

#: bytes per minhash verify row: two shingle arrays per candidate (r9 —
#: ~48 GB measured at sf1000 for 14.4M candidates).
MINHASH_VERIFY_ROW_BYTES = 4_000

#: bytes per winnowing candidate row that ships two full sketch arrays
#: (~5 KB a side at this corpus's doc length — the PERF.md sf100
#: constant, 43M candidates x ~10 KB >> disk). Prices both the unguarded
#: plan the guard routes away from (so the crossover lands where that
#: plan actually dies) and each row of the sliced verify.
WINNOW_CAND_ROW_BYTES = 10_000

#: per-candidate pricing of the GUARDED screen's sliced transient (r9): a
#: 16 B pair-shuffle row plus the ~580 B join intermediate that carries
#: one bottom-k bigint array between the two screen joins; 600 B brackets
#: sf100's measured ~434 B/candidate peak with margin.
SCREEN_ROW_BYTES = 600

#: sanity bound on the slice count: each slice pays a fixed
#: job-submission + checkpoint overhead, so past ~64 slices the overhead
#: dominates any transient saved — a misconfigured (tiny) budget should
#: degrade to a slow-but-sane plan, not tens of thousands of jobs.
MAX_AUTO_SLICES = 64

#: sort-merge double-buffering factor for the auto-routed slice pricing
#: (r9 sf1000 post-mortem): a shuffle's on-disk peak is NOT its payload
#: bytes — ShuffleExternalSorter holds its spill files AND the merged
#: output file simultaneously during closeAndGetSpills, so a slice priced
#: at B bytes of candidate payload transiently occupies ~2B of disk. The
#: 50M-doc winnowing run died (ENOSPC, screen slice ~5 of ~10) with
#: per-slice payload priced exactly at the 24 GiB budget while real peak
#: hit ~2x that against ~24 GB of remaining headroom. Pricing the factor
#: into the router halves the effective slice size; over-slicing is the
#: cheap direction (per-slice corpus cost is zero once the payload
#: tables are hoisted and cached — each extra slice is one more
#: pair-scale job), under-slicing is fatal.
SORT_MERGE_TRANSIENT_FACTOR = 2


#: Cost-routed payload-table pin (r9, guide §5's caching rule made a
#: routed decision): the LSH families each derive an expensive payload
#: table from the raw text scan (winnowing sketch sets, shingle arrays,
#: normalized truncated text) and consume it 2-3 times — signature build,
#: screen table, verify restrict. At corpus scale the table is deliberately
#: NEVER cached (the r7 sf100 probe measured a ~15 GB pinned shingle cache
#: pushing the job into disk spill; recomputing the scan is the scale-safe
#: trade). But below this many bytes of INPUT parquet the whole table fits
#: trivially in the storage pool, and recomputing the per-row md5/sketch
#: work 2-3x is the dominant query cost (measured at sf0.1: the winnowing
#: guarded twin spends ~2.5 of its ~5 s re-deriving the sketch table).
#: Routing the persist on the driver-side input-file size (no job, no
#: result impact either way) keeps both regimes on their measured-best
#: plan. 64 MiB of parquet ~= sf1 here; deserialized arrays run ~10-25x
#: the parquet bytes, so the worst-case pin is ~1.6 GB of storage pool.
PAYLOAD_PIN_BUDGET_BYTES = 64 << 20


def _source_input_bytes(df: DataFrame) -> int | None:
    """Total on-disk size of the files feeding ``df``'s scan, or None when
    it cannot be determined (non-file source, remote scheme). Driver-side
    metadata only — no job."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        try:
            total += os.path.getsize(parsed.path or uri)
        except OSError:
            return None
    return total


def _pin_small_payload(
    frame: DataFrame, source: DataFrame, caches: list[DataFrame]
) -> DataFrame:
    """Persist ``frame`` iff ``source``'s input files fit the pin budget
    (see ``PAYLOAD_PIN_BUDGET_BYTES``). Appends the persisted handle to
    ``caches`` so the caller controls release. Result-invariant: the route
    only decides whether a recomputation is cached."""
    size = _source_input_bytes(source)
    if not record_route(
        "payload_pin",
        inputs={"source_input_bytes": size},
        estimate=size,
        budget=PAYLOAD_PIN_BUDGET_BYTES,
        chosen=size is not None and size <= PAYLOAD_PIN_BUDGET_BYTES,
    ):
        return frame
    pinned = frame.persist()
    caches.append(pinned)
    return pinned


def _nudge_shuffle_cleanup(spark) -> None:
    """Ask the JVM to garbage-collect so ContextCleaner can delete the
    shuffle files a just-checkpointed slice no longer references.

    Why (r9 — the bounded-transient verify mode): ``localCheckpoint``
    truncates lineage, making the slice's ShuffleDependency objects
    unreachable, but Spark's ContextCleaner only DELETES the shuffle
    files after a JVM GC collects those objects and fires their weak
    references. Between sequential slices there is little allocation
    pressure, so an idle driver can sit on tens of GB of dead shuffle
    files — precisely the disk the next slice needs. An explicit
    System.gc() between slices bounds that lag. Best-effort: failure to
    nudge only delays cleanup, never affects results."""
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def slice_count(est_bytes: int, budget_bytes: int | None) -> int:
    """The one slice-count rule of the bounded-transient mode: how many
    sequential hash-slices keep one slice's ON-DISK transient under
    ``budget_bytes`` — ceil(est_bytes x SORT_MERGE_TRANSIENT_FACTOR /
    budget), at least 1, at most ``MAX_AUTO_SLICES``. The budget is a
    spill CAPACITY (unlike the guard budget's always-engage-at-0
    threshold), so None or <= 0 prices one pass: slicing into max pieces
    on a 0-capacity host helps nothing."""
    if budget_bytes is None or budget_bytes <= 0:
        return 1
    n = -(-(est_bytes * SORT_MERGE_TRANSIENT_FACTOR) // budget_bytes)
    return min(MAX_AUTO_SLICES, max(1, n))


def _priced_slices(name: str, rows: int, row_bytes: int, budget_bytes: int) -> int:
    """``slice_count`` of ``rows`` candidate rows at ``row_bytes`` each,
    reported as route ``name``."""
    est = rows * row_bytes
    return record_route(
        name,
        inputs=dict(
            rows=rows, row_bytes=row_bytes, transient_factor=SORT_MERGE_TRANSIENT_FACTOR
        ),
        estimate=est,
        budget=budget_bytes,
        chosen=slice_count(est, budget_bytes),
    )


def _sequence_slices(
    pairs: DataFrame, n: int, stage: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """The one slice sequencer of the bounded-transient mode: run
    ``stage`` over ``n`` disjoint slices of the candidate ``pairs``
    (xxhash64 of (id_a, id_b) mod n), one job at a time, each
    localCheckpointed and followed by a shuffle-cleanup nudge so its
    shuffle files are collectable before the next slice needs the disk.
    Returns the union of the slices, which is exactly ``stage(pairs)``:
    the mode trades time for space, never results."""
    spark = pairs.sparkSession
    parts = []
    for i in range(n):
        sl = pairs.where(
            F.pmod(F.xxhash64(F.col("id_a"), F.col("id_b")), F.lit(n)) == i
        )
        parts.append(stage(sl).localCheckpoint(eager=True))
        _nudge_shuffle_cleanup(spark)
    return reduce(DataFrame.unionByName, parts)


def lsh_band_cost_profile(
    banded: DataFrame, bytes_per_candidate_row: int = 20, cap: int | None = None
) -> dict:
    """Pre-flight cost model for the LSH band-bucket self-join (r8, VERDICT
    r7 item 1): the join materializes, per (band, band_key) bucket of n
    members, n·(n-1)/2 candidate rows before the distinct, so its
    shuffle/spill volume is ~``bytes_per_candidate_row × Σ n·(n-1)/2`` —
    the banding analog of ``exact_jaccard_cost_profile``'s Σ df² formula.
    Calibrated against the round-7 fourth octave: minhash at sf1000
    measured ~48 GB of transient spill from the band join, the same
    mechanism (cross-replica digit-shingle buckets growing linearly with
    the corpus, hence pair output quadratically) that exhausted the disk
    for the winnowing family one octave earlier.

    ONE aggregation over the already-persisted banded index (hash keys
    only — no text, no arrays) plus a 1-row collect. n·(n-1) is always
    even, so ``DIV 2`` is exact and the whole estimate is bigint
    arithmetic a DuckDB oracle replays bit-for-bit — the routing decision
    (enable the hot-bucket sample cap iff the estimate exceeds the spill
    budget) can never diverge between engines.

    ``cap`` (r9, VERDICT r8 item 2) additionally prices the GUARDED
    plan's candidate volume in the SAME single aggregation:
    Σ least(n, cap)·(least(n, cap)-1)/2 — what the band join emits once
    the hot-bucket sample cap bounds every bucket at ``cap`` members.
    This is the input to the verify-slice auto-route: the guarded
    screen+verify transient is ~``est_capped_candidate_rows`` x a
    per-row constant, so the slice count that keeps the simultaneous
    transient under a host's spill budget is derivable pre-flight
    instead of being a human-set env var (the r8 sf1000 ENOSPC gap)."""
    aggs = [F.sum(F.expr("n * (n - 1) DIV 2")).alias("cand_rows")]
    if cap is not None:
        aggs.append(
            F.sum(
                F.expr(f"least(n, {int(cap)}) * (least(n, {int(cap)}) - 1) DIV 2")
            ).alias("capped_rows")
        )
    row = (
        banded.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(*aggs)
        .collect()[0]
    )
    cand_rows = int(row["cand_rows"] or 0)
    out = {
        "est_candidate_rows": cand_rows,
        "est_shuffle_bytes": bytes_per_candidate_row * cand_rows,
    }
    if cap is not None:
        out["est_capped_candidate_rows"] = int(row["capped_rows"] or 0)
    return out


def _bucket_sample_cap(banded: DataFrame, id_col: str, cap: int) -> DataFrame:
    """Deterministic per-bucket sample: keep the ``cap`` members of each
    (band_id, band_key) bucket with the smallest salted md5 draw. The draw
    is salted with the BUCKET key (r8, ADVICE r7): an unsalted
    md5('lshcap:' || id) is perfectly correlated across buckets, so a doc
    with one unlucky draw would be evicted from EVERY hot bucket it
    occupies — a systematic recall bias. Salting makes the draws
    independent per bucket, so an evicted doc likely survives in another
    bucket. Same QUALIFY window, same salt, in the DuckDB oracles."""
    wcap = Window.partitionBy("band_id", "band_key").orderBy(
        F.md5(
            F.concat_ws(
                "|",
                F.concat(F.lit("lshcap:"), F.col("band_id").cast("string")),
                F.col("band_key"),
                F.col(id_col).cast("string"),
            )
        ),
        F.col(id_col),
    )
    return (
        banded.withColumn("__brn", F.row_number().over(wcap))
        .where(F.col("__brn") <= cap)
        .drop("__brn")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_sample: int | None = None,
    sample_budget_bytes: int | None = None,
    bytes_per_candidate_row: int = 20,
    caches: list | None = None,
) -> tuple[DataFrame, dict | None]:
    """LSH banding: concat each band's minhashes -> md5 band key -> self-join
    on (band_id, band_key) -> distinct (a, b) candidate pairs with a < b.
    Returns ``(pairs, preflight)``; ``preflight`` is None unless a budget
    is set (see below).

    The self-join shuffles on the band key; docs only meet if they collide in
    at least one band — this is the scale path (no all-pairs compare).

    ``max_bucket_sample`` is the hot-bucket guard (the dedup twin of
    similarity.py's ``max_bucket_candidates``, born from the round-7 sf100
    probe): a degenerate bucket of B docs emits B·(B-1)/2 candidates, so
    the guard keeps a DETERMINISTIC per-bucket sample — the
    ``max_bucket_sample`` members with the smallest bucket-salted md5
    draw, id-tiebroken (``_bucket_sample_cap``) — bounding per-bucket pair
    output at cap² while pairs between sampled members still surface the
    bucket's duplicate mass. The same QUALIFY window replays bit-for-bit
    in a DuckDB oracle.

    ``sample_budget_bytes`` (r8, VERDICT r7 item 1) turns the sample cap
    into a COST-ROUTED guard: a one-aggregation pre-flight over the banded
    index (``lsh_band_cost_profile``) estimates the band join's candidate
    shuffle and enables the cap ONLY when the estimate exceeds the budget
    — below the crossover the plan is bit-identical to the unguarded form
    (no window, no sort, zero overhead beyond the 1-row profile collect).
    A budget needs a cap value to enable (``ValueError`` otherwise: a
    budget with no cap would run unguarded at every scale). The choice is
    one ``lsh_guard_cap`` route record, and ``preflight`` hands the
    profile plus ``capped`` (the choice) back to the caller.

    ``caches`` (r9, ADVICE r8): if a list is passed, the persisted
    banded-index handle is appended to it so bounded-transient callers
    (the verify-slice path) can release the corpus-scale cache once their
    last slice is checkpointed; without it the cache stayed pinned for
    the session in exactly the disk-bounded mode it matters most.
    """
    if sample_budget_bytes is not None and max_bucket_sample is None:
        raise ValueError(
            "lsh_candidate_pairs: sample_budget_bytes requires "
            "max_bucket_sample (a budget with no cap value would silently "
            "run unguarded at every scale)"
        )
    rows_per_band = num_hashes // bands
    # ONE pass: explode an array of (band_id, band_key) structs instead of
    # unioning per-band branches (a union would recompute the signature
    # expression tree once per band).
    band_structs = []
    for b in range(bands):
        sig_cols = [F.col(f"minhash_{j}") for j in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws("|", *sig_cols)).alias("band_key"),
            )
        )
    banded = signatures.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("__band")
    ).select(F.col(id_col), F.col("__band.band_id"), F.col("__band.band_key"))
    preflight = None
    if sample_budget_bytes is not None:
        # cost-routed guard: persist the banded index FIRST (the profile
        # aggregation and both self-join sides all read the same cache,
        # hash-partitioned on the join key — see the comment below), run
        # the one-aggregation pre-flight, and cap only past the budget.
        # The cap window's partitioning matches the cache distribution,
        # so enabling it adds a per-partition sort but no extra exchange.
        banded = repartition_for_exploding_join(banded, "band_id", "band_key").persist()
        if caches is not None:
            caches.append(banded)
        profile = lsh_band_cost_profile(
            banded, bytes_per_candidate_row, cap=max_bucket_sample
        )
        capped = record_route(
            "lsh_guard_cap",
            inputs={
                **profile,
                "bytes_per_candidate_row": bytes_per_candidate_row,
                "cap": max_bucket_sample,
            },
            estimate=profile["est_shuffle_bytes"],
            budget=sample_budget_bytes,
            chosen=profile["est_shuffle_bytes"] > sample_budget_bytes,
        )
        preflight = {**profile, "capped": capped}
        if capped:
            banded = _bucket_sample_cap(banded, id_col, max_bucket_sample)
    else:
        if max_bucket_sample is not None:
            # unconditional cap: one linear window shuffle on the band key
            # bounds every bucket BEFORE the self-join — the bucket-square
            # never materializes
            banded = _bucket_sample_cap(banded, id_col, max_bucket_sample)
        # cache hash-partitioned on the join key: without this, BOTH
        # self-join sides recompute the full signature expression tree (8
        # array_min folds over per-shingle double-md5 digests — the
        # expensive part) AND re-shuffle it; with it, signatures compute
        # once and the join reads the cache with its distribution
        # requirement satisfied (same measured pattern as the
        # ngram/winnowing inverted-index caches).
        banded = repartition_for_exploding_join(banded, "band_id", "band_key").persist()
        if caches is not None:
            caches.append(banded)

    a = banded.alias("a")
    b_ = banded.alias("b")
    pairs = (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return pairs, preflight


def _restrict_to_candidates(
    source: DataFrame, cands: DataFrame, id_col: str
) -> DataFrame:
    """Semi-join ``source`` down to rows whose id appears in a candidate
    pair — the verify-stage input reducer every LSH family shares.

    Why this exists (the round-7 sf100 finding): the verification join
    consumes per-doc payload arrays (shingle sets, winnowing sketches,
    truncated text) on BOTH sides, and joining them corpus-wide means the
    exchange ships every doc's array even though candidates touch a small
    fraction of the corpus. At sf10 that fat shuffle still fit in memory
    and the cost hid inside an apparently-linear growth curve; at sf100
    (5M docs) it became ~40 GB of spill and a 2.9x-over-linear wall time
    for ``minhash_lsh_near_dups`` (26.5 s -> 776 s for 10x data) and an
    executor OOM for the winnowing variant. At 100 TB it is THE bottleneck:
    verify cost must track candidate volume, not corpus volume.

    The candidate-id frame is pair-scale (<= 2 rows per candidate pair,
    distinct), so AQE plans the semi-join as a broadcast — the reduction
    happens map-side inside the source scan and no corpus-wide wide-row
    exchange exists anywhere in the verify plan. Degenerate corpora where
    nearly every doc is a candidate converge to the old plan's cost (the
    semi-join keeps everything); they can never exceed it.
    """
    ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    return source.join(ids, id_col, "left_semi")


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_sample: int | None = None,
    sample_budget_bytes: int | None = None,
    verify_budget_bytes: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded candidates ->
    exact Jaccard verification on candidates only -> pairs over threshold.

    Returns (id_a, id_b, jaccard) with jaccard rounded to 6dp.

    Scale shape (revised after the round-7 sf100 probe): signatures fuse
    with the shingle computation in one codegen scan (no corpus-wide
    cache — at 5M docs the old ``shingles.persist()`` pinned ~15 GB of
    deserialized arrays and pushed the job into disk spill); the verify
    stage reads ONLY candidate docs' shingle arrays via
    ``_restrict_to_candidates``, so its joins are candidate-scale however
    big the corpus is. Only pair-scale frames are persisted.

    ``max_bucket_sample`` + ``sample_budget_bytes`` wire the cost-routed
    hot-bucket guard through to ``lsh_candidate_pairs`` (r8 — the fourth
    octave's early warning: the unguarded band join's transient spill
    grew super-linearly, ~5 GB at sf100 -> ~48 GB at sf1000, as
    cross-replica digit-shingle buckets fatten; the cap flips on exactly
    when the replayable pre-flight estimate crosses the budget, so the
    guarded route engages BEFORE the spill disk would bind instead of
    paying the cap's recall trade at every scale).

    ``verify_budget_bytes`` (r9 — the winnowing family's
    bounded-transient mode, ported): the r8 pre-flight calibration proved
    this family's growing spill is LINEAR verify payload (true pairs x
    two shingle arrays, ~48 GB measured at sf1000 for 14.4M candidates ~=
    ``MINHASH_VERIFY_ROW_BYTES`` 4 KB/candidate), which no recall-trading
    cap can or should cut — projected to exhaust a fixed single-host disk
    near sf3000. The single-host answer is SEQUENCING: the verify
    transient (counted candidates x ``MINHASH_VERIFY_ROW_BYTES``) is
    priced by ``slice_count`` against ``verify_budget_bytes``, and m > 1
    runs the verify through ``_sequence_slices`` against the
    once-persisted, id-partitioned candidate-shingle table. m == 1 (every
    measured scale: 57.6 GB priced at sf1000 vs the 64 GiB default
    budget) keeps the plan BIT-IDENTICAL to the unsliced form; the
    slicing itself is result-invariant (disjoint hash-slice union), so
    the oracle never sees the decision. m is the
    ``minhash_verify_slices`` route record."""
    source = df
    df = ensure_min_parallelism(df)
    shingles = df.select(
        F.col(id_col), word_shingles(text_col, shingle_k).alias("__shingles")
    )
    # two consumers re-run the shingle scan (signature build, verify
    # restrict); cost-routed pin — recompute at corpus scale (r7 lesson:
    # a corpus-wide shingle cache spilled at sf100), cache when small
    pin_caches: list[DataFrame] = []
    shingles = _pin_small_payload(shingles, source, pin_caches)
    sigs = minhash_signatures(
        shingles.withColumnRenamed("__shingles", "__precomputed"),
        text_col="__precomputed",
        id_col=id_col,
        num_hashes=num_hashes,
        shingle_k=shingle_k,
        precomputed_shingles=True,
    )
    # persisted: consumed by the two id-projections of the semi-join AND
    # as the verify join's left side (pair-scale rows, bounded)
    upstream_caches: list[DataFrame] = []
    cands, _ = lsh_candidate_pairs(
        sigs,
        id_col,
        num_hashes,
        bands,
        max_bucket_sample=max_bucket_sample,
        sample_budget_bytes=sample_budget_bytes,
        bytes_per_candidate_row=MINHASH_CAND_ROW_BYTES,
        caches=upstream_caches,
    )
    cands = cands.persist()
    n_slices = 1
    if verify_budget_bytes is not None and verify_budget_bytes > 0:
        # runtime-priced sequencing decision (see docstring): the
        # candidate cache is materialized by this count and reused by
        # every consumer below, so the pricing costs no extra pass. A
        # non-positive budget prices one pass, so it skips the count.
        n_slices = _priced_slices(
            "minhash_verify_slices",
            cands.count(),
            MINHASH_VERIFY_ROW_BYTES,
            verify_budget_bytes,
        )

    sh_named = shingles.withColumnRenamed("__shingles", "__sh")

    def _verify_join(cands_in: DataFrame, sh_tab: DataFrame) -> DataFrame:
        a = sh_tab.select(
            F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a")
        )
        b = sh_tab.select(
            F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b")
        )
        return (
            cands_in.join(a, "id_a")
            .join(b, "id_b")
            .withColumn(
                "jaccard",
                F.round(
                    F.size(F.array_intersect("sh_a", "sh_b"))
                    / F.size(F.array_union("sh_a", "sh_b")),
                    6,
                ),
            )
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("id_a", "id_b", "jaccard")
        )

    if n_slices > 1:
        # bounded-transient verify: the candidate-shingle table is built
        # ONCE, persisted hash-partitioned on the doc id (alias-aware
        # partitioning lets both per-slice equi-joins read it in place —
        # same cache pattern as the winnowing sliced mode)
        cand_sh = (
            _restrict_to_candidates(sh_named, cands, id_col)
            .repartition(F.col(id_col))
            .persist()
        )
        result = _sequence_slices(
            cands, n_slices, lambda sl: _verify_join(sl, cand_sh)
        )
        cand_sh.unpersist()
        cands.unpersist()
        for c in pin_caches + upstream_caches:
            c.unpersist()
        return result

    cand_sh = _restrict_to_candidates(sh_named, cands, id_col).persist()
    return _verify_join(cands, cand_sh)


def edit_verified_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    similarity_threshold: float = 0.8,
    max_chars: int = 2000,
) -> DataFrame:
    """LSH candidates verified by TRUE edit distance instead of Jaccard:
    ``sim = 1 - levenshtein(a, b) / max(len(a), len(b))`` on the normalized
    text, pairs kept at ``sim >= similarity_threshold``.

    This is the exact-verification stage of a fuzzy-dedup pipeline
    (NeMo-Curator / BigCode style): shingle-set Jaccard is blind to token
    ORDER ("a b c d" vs "d c b a" share every unigram), while edit distance
    charges every transposition — the two verifiers disagree exactly on
    reordered boilerplate, which is why production pipelines run Levenshtein
    on the candidate set when ordering matters (e.g. code dedup).

    Scale: Levenshtein is O(len_a * len_b) PER PAIR — affordable only
    because it runs on the LSH candidate set (bounded by band collisions,
    never all-pairs) and on texts truncated to ``max_chars`` normalized
    chars (100 TB corpora cap the comparison window; a 2k-char prefix
    decides near-duplicate status for web docs in practice). The compute is
    a single JVM codegen expression (``F.levenshtein``) — no Python in the
    loop — and the candidate join ships only (id, truncated text) pairs,
    for CANDIDATE docs only (``_restrict_to_candidates``): at 100 TB the
    verify exchange must scale with candidate volume, not corpus volume.
    """
    source = df
    df = ensure_min_parallelism(df)
    prepared = df.select(
        F.col(id_col),
        F.substring(normalized_text(text_col), 1, max_chars).alias("__t"),
        word_shingles(text_col, shingle_k).alias("__precomputed"),
    )
    # normalized text + shingles feed both the signature build and the
    # verify restrict; cost-routed pin (recompute at scale, cache small)
    prepared = _pin_small_payload(prepared, source, [])
    sigs = minhash_signatures(
        prepared,
        text_col="__precomputed",
        id_col=id_col,
        num_hashes=num_hashes,
        shingle_k=shingle_k,
        precomputed_shingles=True,
    )
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)[0].persist()
    cand_t = _restrict_to_candidates(
        prepared.select(F.col(id_col), "__t"), cands, id_col
    ).persist()
    a = cand_t.select(F.col(id_col).alias("id_a"), F.col("__t").alias("t_a"))
    b = cand_t.select(F.col(id_col).alias("id_b"), F.col("__t").alias("t_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "edit_similarity",
            F.round(
                F.lit(1.0)
                - F.levenshtein("t_a", "t_b")
                / F.greatest(F.length("t_a"), F.length("t_b"), F.lit(1)),
                6,
            ),
        )
        .filter(F.col("edit_similarity") >= similarity_threshold)
        .select(
            "id_a",
            "id_b",
            "edit_similarity",
            F.levenshtein("t_a", "t_b").alias("edit_distance"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (inverted-index join — no LSH approximation)
# ---------------------------------------------------------------------------


def build_shingle_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Distinct ``(id_col, sh)`` postings, persisted hash-partitioned on the
    shingle — the shared base of the inverted-index self-join family.

    Materialized once: both sides of the self-join + the size agg reuse it
    (without this the shingle expression tree evaluates three times).
    The cached layout is hash-partitioned ON THE JOIN KEY: both sides of
    the inverted-index self-join (and the df-guard agg) then consume the
    cache with their partitioning requirement already satisfied — no
    re-shuffle of the exploded rows, the largest frame in the operator.
    Measured at sf1: 20.6 -> 10.7 s end-to-end including the extra
    build exchange (one repartition bought two join-side shuffles).

    Linear in the corpus (one row per distinct posting), MEMORY_AND_DISK —
    safe to build before a cost pre-flight has decided whether the
    quadratic join downstream is affordable; a caller routing away from
    the join should unpersist it."""
    df = ensure_min_parallelism(df)
    return repartition_for_exploding_join(
        df.select(
            F.col(id_col), F.explode(word_shingles(text_col, shingle_k)).alias("sh")
        ).distinct(),
        "sh",
    ).persist()


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
    _exploded: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over word-k-gram shingle sets for every pair sharing at
    least one shingle (inverted-index self-join).

    ``max_shingle_df`` drops shingles appearing in more than that many docs
    before the join — the standard guard against quadratic blowup on
    boilerplate shingles at scale.

    ``_exploded`` (internal): a caller that already built and persisted the
    distinct ``(id_col, sh)`` postings table — hash-partitioned on ``sh``,
    exactly ``build_shingle_postings`` — injects it so the operator does not
    rebuild the corpus scan (the cost-routed split report shares one build
    with its pre-flight; the injector owns the unpersist)."""
    # Materialized once: both sides of the self-join + the size agg reuse it
    # (without this the shingle expression tree evaluates three times).
    # The cached layout is hash-partitioned ON THE JOIN KEY: both sides of
    # the inverted-index self-join (and the df-guard agg) then consume the
    # cache with their partitioning requirement already satisfied — no
    # re-shuffle of the exploded rows, the largest frame in the operator.
    # Measured at sf1: 20.6 -> 10.7 s end-to-end including the extra
    # build exchange (one repartition bought two join-side shuffles).
    if _exploded is not None:
        exploded = _exploded
    else:
        exploded = build_shingle_postings(df, text_col, id_col, shingle_k)
    if max_shingle_df is not None:
        # Drop the OVER-cap shingles (few by definition — that's what makes
        # them hot; the r3 form broadcast the SURVIVORS, i.e. nearly the
        # whole vocabulary: 2.7M shingles / ~100MB at sf10 to remove ONE
        # hot shingle). _drop_hot_keys collects the bounded hot set and
        # short-circuits when it's empty — the usual case at small sf,
        # where the r4 unconditional broadcast anti-join cost a fixed
        # two-job overhead for nothing (driver bench 0.36 -> 0.87 s).
        hot = (
            exploded.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("sh")
        )
        exploded = _drop_hot_keys(exploded, hot, ["sh"])
    sizes = exploded.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    a = exploded.select(F.col(id_col).alias("id_a"), "sh")
    b = exploded.select(F.col(id_col).alias("id_b"), "sh")
    shared = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def exact_jaccard_cost_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    bytes_per_pair_row: int = 20,
    _exploded: DataFrame | None = None,
) -> dict:
    """Pre-flight cost model for the ``ngram_jaccard_pairs`` inverted-index
    self-join (r7, VERDICT r6 item 4): the join materializes, per shingle,
    df x df candidate rows before the ``id_a < id_b`` filter, so its
    shuffle/spill volume is ~``bytes_per_pair_row x sum-over-shingles(df^2)``
    — the sizing formula derived in PERF.md after the exact
    ``cluster_safe_split_report`` hit an honest 76 GB disk bound at sf100
    (~15 KB of candidate-pair shuffle per doc at that corpus's df
    profile; max df was only 25, so no hot-key guard could cut it).

    ONE aggregation over the shingle-df profile (the same distinct
    (doc, shingle) explode the exact path starts with — hashes only, no
    text), plus a 1-row collect. Returned dict: ``n_docs``,
    ``n_postings`` (distinct doc-shingle rows), ``sum_df_sq``,
    ``est_candidate_rows`` (= sum df^2 — what the join materializes),
    ``est_shuffle_bytes``. Callers compare ``est_shuffle_bytes`` against
    a spill budget BEFORE launching the join and route to the
    MinHash-banded variant (or fail fast with the estimate) when it
    exceeds it — turning a disk-full death hours in into a planned
    decision (see plans/dedup_queries.cluster_safe_split_report_auto).
    """
    # ``_exploded``: share the caller's persisted postings table (see
    # build_shingle_postings) instead of re-running the corpus scan the
    # routed exact path is about to need anyway.
    exploded = (
        _exploded
        if _exploded is not None
        else df.select(
            F.col(id_col), F.explode(word_shingles(text_col, shingle_k)).alias("sh")
        ).distinct()
    )
    row = (
        exploded.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(
            F.sum("df").alias("n_postings"),
            F.sum(F.col("df") * F.col("df")).alias("sum_df_sq"),
        )
        .collect()[0]
    )
    n_docs = df.select(id_col).distinct().count()
    sum_df_sq = int(row["sum_df_sq"] or 0)
    return {
        "n_docs": int(n_docs),
        "n_postings": int(row["n_postings"] or 0),
        "sum_df_sq": sum_df_sq,
        "est_candidate_rows": sum_df_sq,
        "est_shuffle_bytes": bytes_per_pair_row * sum_df_sq,
    }


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric shingle *containment* for every pair sharing a shingle:
    ``C = |A ∩ B| / min(|A|, |B|)`` (Broder 1997's containment measure).

    The subset-duplicate detector Jaccard structurally misses: when a short
    document is embedded verbatim inside a much longer one, Jaccard is
    diluted by the big doc's extra shingles (|A∩B| / |A∪B| → small) while
    containment stays ~1. Output is directional: ``contained_id`` is the
    doc with the smaller shingle set (tie → smaller id), ``container_id``
    the other — the pair a dedup policy keeps is the container, since the
    contained doc's content survives inside it.

    Plan shape is identical to ngram_jaccard_pairs (same inverted-index
    self-join on the cached, join-key-partitioned shingle postings), so
    every scale argument there — linear explode, no all-pairs — carries
    over unchanged.
    """
    exploded = build_shingle_postings(df, text_col, id_col, shingle_k)
    sizes = exploded.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    a = exploded.select(F.col(id_col).alias("id_a"), "sh")
    b = exploded.select(F.col(id_col).alias("id_b"), "sh")
    shared = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    scored = (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.round(F.col("shared") / F.least("n_a", "n_b"), 6),
        )
        .filter(F.col("containment") >= threshold)
    )
    smaller_is_a = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b"))
    )
    return scored.select(
        F.when(smaller_is_a, F.col("id_a")).otherwise(F.col("id_b")).alias(
            "contained_id"
        ),
        F.when(smaller_is_a, F.col("id_b")).otherwise(F.col("id_a")).alias(
            "container_id"
        ),
        "containment",
        F.round(
            F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Winnowing (rolling-hash fingerprint sketches)
# ---------------------------------------------------------------------------


def winnowing_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    containment: float = 0.6,
) -> DataFrame:
    """Near-dup pairs by winnowing-sketch containment:
    (id_a, id_b, shared, containment) where containment =
    |sketch_a ∩ sketch_b| / min(|sketch_a|, |sketch_b|).

    Sketches (functions.text.winnowing_sketch) are per-row expressions —
    the only shuffle is the inverted-index self-join on sketch hashes,
    which touches ~1/w of the gram count. Unlike bag-of-shingles Jaccard
    this is substring-sensitive: any shared run of >= k+w-1 chars leaves
    a common sketch hash, so it catches copy-paste spans inside otherwise
    different documents; the min-size denominator makes it a containment
    measure (a short doc fully embedded in a long one scores 1.0).

    At scale use ``winnowing_near_duplicates_lsh``, which replaces the
    inverted-index join entirely: on low-entropy text the high-df hashes
    the join's cost concentrates on carry the near-dup signal, so no df
    cap can bound the join without destroying recall."""
    from autonomous_orchestrator_ai_spark.functions.text import winnowing_sketch

    df = ensure_min_parallelism(df)
    sk = df.select(F.col(id_col), winnowing_sketch(text_col, k, w).alias("__sk"))
    # cache hash-partitioned on the join key so neither self-join side
    # re-shuffles the exploded index (same measured trade as
    # ngram_jaccard_pairs: one build exchange buys two join-side shuffles)
    exploded = repartition_for_exploding_join(
        sk.select(
            F.col(id_col),
            F.size("__sk").alias("__sz"),
            F.explode("__sk").alias("__h"),
        ),
        "__h",
    ).persist()
    a = exploded.select(
        F.col(id_col).alias("id_a"), F.col("__sz").alias("__sza"), "__h"
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), F.col("__sz").alias("__szb"), "__h"
    )
    return (
        a.join(b, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.min(F.least("__sza", "__szb")).alias("__msz"),
        )
        .withColumn(
            "containment", F.round(F.col("shared") / F.col("__msz"), 6)
        )
        .filter(F.col("containment") >= containment)
        .select("id_a", "id_b", "shared", "containment")
    )


def winnowing_near_duplicates_lsh(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    containment: float = 0.6,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_sample: int | None = None,
    screen_k: int | None = None,
    screen_cut: tuple[int, int] | None = None,
    guard_budget_bytes: int | None = None,
    slice_budget_bytes: int | None = None,
) -> DataFrame:
    """Scale form of ``winnowing_near_duplicates``: MinHash-LSH over the
    winnowing SKETCH SETS (each doc's sketch hashes, stringified, play the
    role of shingles), banded candidate generation, then exact containment
    verification of candidates only.

    Why this and not a hash-df cap: the inverted-index self-join's cost
    concentrates on high-df hashes, but on low-entropy corpora those same
    hashes carry the near-dup signal, so df-capping zeroes recall (measured
    on this corpus: cap 20 -> 0 surviving pairs). LSH sidesteps the df
    distribution entirely — the join key is the banded signature of the
    WHOLE sketch, so candidate volume tracks whole-sketch similarity, not
    any single hash's popularity. Surviving pairs carry the identical
    (shared, containment) values the exact form computes.

    Two scale guards (round-7 sf100 findings — at 5M docs the unguarded
    form exhausted 78 GB of spill disk even after candidate-restricted
    verification, because the problem moved UPSTREAM of the verify):

    * ``max_bucket_sample`` — band buckets keyed by minhashes of grams the
      scale fixture can't diversify (digit runs survive the per-replica
      letter permutation) grow LINEARLY with corpus size, so their pair
      output grows with the SQUARE (measured at sf10: 614 buckets > 50
      docs carried 3.1M of 7.3M candidates; the top bucket alone, 792
      docs, is ~313k pairs and 100x that one octave up). The cap keeps a
      deterministic md5-draw sample per bucket (see
      ``lsh_candidate_pairs``), bounding hot-bucket output at cap².
    * ``screen_k`` + ``screen_cut`` — even LINEAR candidate volume is
      fatal when every verify row ships two full sketch arrays (~5 KB a
      side at this doc length; 43M within-replica candidates x 10 KB
      >> disk). Before the exact verify, a BOUNDED bottom-``screen_k``
      sub-sketch (KMV estimator, fixed 8·k bytes per side) estimates
      containment and discards pairs below ``screen_cut`` (a rational
      (num, den), e.g. (9, 20) = 0.45); only survivors — true pairs plus
      a thin borderline band — reach the full-array verify. The estimate
      is EXACT when |A ∪ B| <= screen_k, and the cut compares pure
      integer products (keep iff den·ik·(sza+szb) >= num·min·(kp+ik),
      all in bigint), so the screen replays bit-for-bit in a DuckDB
      oracle: no float divergence or 32-bit wrap can flip a pair across
      the screen boundary.

    ``guard_budget_bytes`` (r8, VERDICT r7 item 2) cost-routes BOTH
    guards with the ``lsh_band_cost_profile`` pre-flight: below the
    budget the cap and the screen are pure overhead (measured +36% at
    sf0.1, where zero hot buckets exist) and are skipped — the plan is
    bit-identical to the unguarded form; past the budget both engage
    exactly as before (the sf100 completion path).
    ``WINNOW_CAND_ROW_BYTES`` prices the UNGUARDED plan's verify rows,
    which is what the routing decision is deciding against. The identical
    integer estimate replays in the DuckDB oracle, so the route can never
    diverge. A budget requires ``max_bucket_sample`` (``ValueError``
    from ``lsh_candidate_pairs``); the choice is its ``lsh_guard_cap``
    route record.

    ``slice_budget_bytes`` (r8 — the sf1000 ENOSPC diagnosis; auto-routed
    and phases hoisted r9) is the bounded-transient mode: past the
    budget, the screen, then the verify, run over candidate pairs
    through ``_sequence_slices``, capping the simultaneous shuffle
    transient at ~1/N of the total. The union of disjoint slices is
    exactly the unsliced result — no recall trade, no oracle change. Both
    per-doc payload tables (the bottom-k screen table and the
    candidate-restricted full-sketch table) are built ONCE and persisted
    hash-partitioned on the doc id, so each slice's joins read them in
    place — per-slice cost tracks the slice, not the corpus. It matters
    when the corpus's total verify transient exceeds the host's spill
    disk (winnowing at 50M docs needed ~3x this host's 78 GB); a cluster
    achieves the same with aggregate spill capacity. ``slice_count``
    prices both counts from the same pre-flight that routes the guards:
    the SCREEN count from the branch actually taken — the guarded branch
    at ``est_capped_candidate_rows x SCREEN_ROW_BYTES``, the unguarded
    branch at the existing ``est_candidate_rows x
    WINNOW_CAND_ROW_BYTES`` (full sketch arrays, no screen); the VERIFY
    count at RUNTIME from the counted screen survivors x
    ``WINNOW_CAND_ROW_BYTES``, since the screen typically discards most
    candidates. One slice keeps the single-pass plan, so small corpora
    are untouched. Requires ``guard_budget_bytes`` (the pre-flight must
    run). The counts are the ``winnow_screen_slices`` and
    ``winnow_verify_slices`` route records.

    Recall trades (all documented, none affecting reported values): banded
    MinHash misses low-Jaccard/high-containment pairs (unequal sizes);
    bucket sampling loses pairs whose ONLY collision is a hot bucket;
    the KMV screen mis-drops a borderline pair with probability ~
    P(est error > cut margin), ~1% at k=64 for a true-0.6 pair against a
    0.45 cut. Surviving pairs always carry exact (shared, containment)."""
    from autonomous_orchestrator_ai_spark.functions.text import winnowing_sketch

    source = df
    df = ensure_min_parallelism(df)
    # numeric sketch: verify/screen arithmetic on bigints (array_intersect
    # counts are identical to the stringified form — the cast is injective
    # — and the exchange rows are ~25% slimmer); stringified copy only for
    # the minhash signature, whose md5 contract is over strings
    sk = df.select(
        F.col(id_col), winnowing_sketch(text_col, k, w).alias("__skn")
    ).withColumn("__sz", F.size("__skn"))
    # the sketch table feeds THREE consumers (signatures, the bottom-k
    # screen table, the verify restrict), each of which re-runs the
    # text scan + sketch expression unless pinned; cost-routed on input
    # size — corpus scale recomputes (the r7 OOM lesson), small corpora
    # pin (r9: ~2.5 of the guarded twin's ~5 s at sf0.1 was re-sketching)
    pin_caches: list[DataFrame] = []
    sk = _pin_small_payload(sk, source, pin_caches)
    sigs = minhash_signatures(
        sk.select(
            F.col(id_col),
            F.transform("__skn", lambda x: x.cast("string")).alias("__sks"),
        ),
        "__sks",
        id_col,
        num_hashes=num_hashes,
        precomputed_shingles=True,
    )
    upstream_caches: list[DataFrame] = []
    cands, preflight = lsh_candidate_pairs(
        sigs,
        id_col,
        num_hashes,
        bands,
        max_bucket_sample=max_bucket_sample,
        sample_budget_bytes=guard_budget_bytes,
        bytes_per_candidate_row=WINNOW_CAND_ROW_BYTES,
        caches=upstream_caches,
    )
    cands = cands.persist()
    # one pre-flight, one routing decision, BOTH guards: the estimate
    # prices the unguarded verify's candidate volume, which is exactly
    # what the cap bounds upstream and the screen bounds downstream
    screen_on = screen_k is not None and (preflight is None or preflight["capped"])
    n_slices = 1
    if slice_budget_bytes is not None and preflight is not None:
        # auto-route the slice count from the pre-flight (r9, VERDICT r8
        # item 2): price the transient of the branch the guards chose —
        # guarded = capped candidates x screen-row bytes, unguarded =
        # raw candidates x full-sketch verify bytes. Pure integer
        # arithmetic on already-collected profile numbers: no extra job,
        # and the slicing is result-invariant so nothing downstream (or
        # in the oracle) depends on where N lands.
        if preflight["capped"]:
            rows, row_bytes = preflight["est_capped_candidate_rows"], SCREEN_ROW_BYTES
        else:
            rows, row_bytes = preflight["est_candidate_rows"], WINNOW_CAND_ROW_BYTES
        n_slices = _priced_slices(
            "winnow_screen_slices", rows, row_bytes, slice_budget_bytes
        )
    num, den = screen_cut if screen_cut is not None else (9, 20)

    def _bk_table(cands_in: DataFrame) -> DataFrame:
        # bounded sub-sketch per CANDIDATE doc: (id, size, bottom-k) is
        # 8·k bytes of payload however long the document is. ONE corpus
        # sketch scan, restricted map-side to candidate docs.
        return _restrict_to_candidates(
            sk.select(
                F.col(id_col),
                F.col("__sz"),
                F.slice(F.array_sort("__skn"), 1, screen_k).alias("__bk"),
            ),
            cands_in,
            id_col,
        )

    def _screen_join(cands_in: DataFrame, bk_in: DataFrame) -> DataFrame:
        ba = bk_in.select(
            F.col(id_col).alias("id_a"),
            F.col("__bk").alias("__bka"),
            F.col("__sz").alias("__sza"),
        )
        bb = bk_in.select(
            F.col(id_col).alias("id_b"),
            F.col("__bk").alias("__bkb"),
            F.col("__sz").alias("__szb"),
        )
        # k smallest of A∪B (any of them is necessarily inside whichever
        # side's bottom-k contains it, so the slice of the merged
        # bottom-ks IS the bottom-k of the union); ik = |bottom-k ∩ A ∩ B|
        uk = F.slice(F.array_sort(F.array_union("__bka", "__bkb")), 1, screen_k)
        ik = F.size(F.array_intersect(F.array_intersect(uk, F.col("__bka")), F.col("__bkb")))
        kp = F.size(uk)
        # containment estimate C = I/min with I = J·(sza+szb)/(1+J),
        # J = ik/kp  =>  keep iff den·ik·(sza+szb) >= num·min·(kp+ik).
        # All operands cast to bigint BEFORE multiplying (r8, ADVICE r7):
        # F.size yields 32-bit ints, and in non-ANSI Spark an int·int
        # product silently wraps once den·ik·(sza+szb) exceeds 2^31
        # (multi-MB documents) while the DuckDB oracle computes int64 —
        # a wrap would break the bit-for-bit replay and could flip the
        # screen decision. (Integer-only either way: zero float noise.)
        return (
            cands_in.join(ba, "id_a")
            .join(bb, "id_b")
            .filter(
                F.lit(den).cast("long")
                * ik.cast("long")
                * (F.col("__sza") + F.col("__szb")).cast("long")
                >= F.lit(num).cast("long")
                * F.least("__sza", "__szb").cast("long")
                * (kp + ik).cast("long")
            )
            .select("id_a", "id_b")
        )

    def _verify_join(cands_in: DataFrame, skr: DataFrame) -> DataFrame:
        # the round-7 sf100 probe: verifying against the corpus-wide
        # persisted sketch table OOM'd the executor heap at 5M docs (the
        # sketch arrays are the fat column); ``skr`` is the
        # candidate-restricted sketch table (pair-scale), built ONCE by
        # the caller and persisted there (both join sides consume it).
        a = skr.select(
            F.col(id_col).alias("id_a"),
            F.col("__skn").alias("__ska"),
            F.col("__sz").alias("__sza"),
        )
        b = skr.select(
            F.col(id_col).alias("id_b"),
            F.col("__skn").alias("__skb"),
            F.col("__sz").alias("__szb"),
        )
        return (
            cands_in.join(a, "id_a")
            .join(b, "id_b")
            .withColumn(
                "shared",
                F.size(F.array_intersect("__ska", "__skb")).cast("bigint"),
            )
            .withColumn(
                "containment",
                F.round(F.col("shared") / F.least("__sza", "__szb"), 6),
            )
            .filter(F.col("containment") >= containment)
            .select("id_a", "id_b", "shared", "containment")
        )

    if n_slices > 1:
        # Bounded-transient mode (r8 — the sf1000 ENOSPC diagnosis; phase
        # restructure r9): the screen + verify transients are LINEAR in
        # candidate volume with a per-row constant (bottom-k arrays, then
        # full sketch arrays), so one octave past the last measured scale
        # their simultaneous shuffle footprint exceeds any FIXED
        # single-host disk (winnowing at 50M docs needed ~3x this host's
        # 78 GB and died on ENOSPC at 2h04m). ``_sequence_slices`` runs
        # screen, then verify, as SEQUENTIAL slice jobs, capping the
        # simultaneous transient at ~1/N of the total.
        #
        # The r8 version recomputed TWO corpus-scale sketch scans per
        # slice (the bottom-k build and the verify restrict both chained
        # back to the raw text scan), so its cost grew with N x corpus —
        # at 50M docs each scan is tens of minutes, making N>=8
        # infeasible. r9 hoists both payload tables out of the loop,
        # built ONCE and persisted HASH-PARTITIONED ON THE DOC ID: a
        # projection that merely renames id -> id_a/id_b preserves the
        # cache's outputPartitioning (alias-aware), so EVERY slice's
        # equi-join reads the cache in place and only the slice's own
        # pair-scale rows are exchanged. Per-slice transient ~
        # |slice| x payload row; per-slice corpus cost ZERO. (Same cache
        # pattern the banded index uses, measured at sf100.)
        #
        # materialize the candidate cache NOW and drop the corpus-scale
        # banded index before any payload phase runs: in bounded-disk
        # mode every pinned GB is a GB the slice transients can't spill
        # into (the banded cache is ~15 GB at 50M docs and is only
        # needed to BUILD cands)
        cands.count()
        for c in upstream_caches:
            c.unpersist()
        _nudge_shuffle_cleanup(df.sparkSession)
        target = cands
        if screen_on:
            bk_all = _bk_table(cands).repartition(F.col(id_col)).persist()
            target = _sequence_slices(
                cands, n_slices, lambda sl: _screen_join(sl, bk_all)
            )
            bk_all.unpersist()
        # the verify's slice count is RUNTIME-priced: survivors are now
        # counted (checkpointed parts — a cheap count), and each verify
        # row ships two full sketch arrays. The screen typically discards
        # most candidates, so m << n_slices.
        skr_all = (
            _restrict_to_candidates(sk, target, id_col)
            .repartition(F.col(id_col))
            .persist()
        )
        m = _priced_slices(
            "winnow_verify_slices",
            target.count(),
            WINNOW_CAND_ROW_BYTES,
            slice_budget_bytes,
        )
        result = _sequence_slices(
            target, m, lambda sl: _verify_join(sl, skr_all)
        )
        # every slice is checkpointed — release the sketch cache and the
        # candidate cache (the banded cache was already dropped the
        # moment cands materialized; r9, ADVICE r8: its handle is
        # threaded out via ``upstream_caches`` — before, it stayed
        # pinned for the session in precisely the bounded-disk mode this
        # path exists for)
        skr_all.unpersist()
        cands.unpersist()
        for c in pin_caches:
            c.unpersist()
        return result

    if screen_on:
        # localCheckpoint instead of persist+count (r9): the screened
        # candidate frame is pair-scale, but its LINEAGE embeds the whole
        # banded-window self-join twice plus the bottom-k subtree — with
        # plain persist every downstream analysis re-canonicalizes that
        # tree against the cache registry, and the twin's construction
        # measured ~4.5 s of driver time against ~1.7 s of execution at
        # sf0.1. Truncating here collapses every downstream plan (the
        # verify restrict + join see a leaf RDD scan); the data is
        # materialized either way (the old path counted the persist
        # eagerly too), so execution cost is unchanged.
        # ... and the same truncation one step earlier: the raw candidate
        # frame's lineage IS the banded self-join; checkpointing it lets
        # the bottom-k restrict and the screen join analyze against a
        # leaf, and the corpus-scale banded index can be released NOW
        # (before, it stayed pinned for the whole session in the unsliced
        # path — the sliced path already released it, ADVICE r8)
        pre_screen = cands.localCheckpoint(eager=True)
        cands.unpersist()
        for c in upstream_caches:
            c.unpersist()
        bk = _bk_table(pre_screen).persist()
        cands = _screen_join(pre_screen, bk).localCheckpoint(eager=True)
        bk.unpersist()
    else:
        # same truncation for the unguarded branch: the candidate frame
        # is pair-scale on this route by construction (the guards engage
        # exactly when it would not be), and its banded-self-join lineage
        # is what every downstream analysis would otherwise re-walk
        ck = cands.localCheckpoint(eager=True)
        cands.unpersist()
        for c in upstream_caches:
            c.unpersist()
        cands = ck
    # persisted: the returned lazy plan reads it twice (semi-join +
    # verify join left side) — module caching contract, unsliced path
    skr = _restrict_to_candidates(sk, cands, id_col).persist()
    return _verify_join(cands, skr)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signature(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """Per-doc SimHash: for each bit position, majority vote of token-hash
    bits. Token bit b = parity of hex digit b of md5(token) (portable across
    engines). Returns (id, simhash bigint).

    Shape: explode tokens -> one md5 + ``bits`` cheap digit-parity columns
    per token -> groupBy(id) sums. The groupBy's map-side partial aggregate
    collapses the token blowup inside each partition, so the shuffle carries
    one (id, bits+1 ints) row per doc — and the expression tree is flat
    (no per-bit higher-order-function folds, which at bits=16 compiled into
    multi-second whole-stage-codegen JIT and code-cache pressure)."""
    df = ensure_min_parallelism(df)
    toks = F.array_distinct(F.split(normalized_text(F.col(text_col)), r"\s+"))
    # md5 once per token (the expensive part), then `bits` parity extracts
    hashed = df.select(F.col(id_col), F.explode(toks).alias("__t")).select(
        F.col(id_col), F.md5("__t").alias("__h")
    )
    parities = hashed.select(
        F.col(id_col),
        *[
            (F.conv(F.substring("__h", b + 1, 1), 16, 10).cast("int") % 2).alias(
                f"__p{b}"
            )
            for b in range(bits)
        ],
    )
    per_doc = parities.groupBy(id_col).agg(
        *[F.sum(f"__p{b}").alias(f"__ones{b}") for b in range(bits)],
        F.count(F.lit(1)).alias("__n"),
    )
    sig = F.lit(0).cast("bigint")
    for b in range(bits):
        # majority of tokens set this bit
        sig = sig + (F.col(f"__ones{b}") * 2 >= F.col("__n")).cast(
            "bigint"
        ) * F.lit(2**b).cast("bigint")
    return per_doc.select(F.col(id_col), sig.alias("simhash"))


def simhash_duplicate_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """Docs sharing an identical SimHash signature (Hamming distance 0):
    (simhash, n_docs, doc_ids sorted) for groups of size >= 2."""
    return (
        simhash_signature(df, text_col, id_col, bits)
        .groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") >= 2)
    )
