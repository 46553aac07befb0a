"""Corpus-curation operators for LLM training-data pipelines
(BASELINE.json north star; complements operators/dedup.py and
functions/text.py).

These are the "assemble the training mix" operations that sit between raw
ingest and tokenization at 100 TB:

- **Deterministic sampling** — keep a row iff a hex prefix of
  ``md5(salt:key)`` falls under a threshold. Pure map-side filter: no
  shuffle, no RNG state, reproducible across runs/engines/partitionings
  (``rand()`` is none of those), and monotone in the fraction (a 20%
  sample is a subset of the 40% sample with the same salt — lets you grow
  a mix without resampling everything).
- **Stratified sampling** — per-stratum fractions via a broadcast-joined
  rates table (never a giant CASE: the rates side is data, not plan).
- **Token-budget packing** — per-source cumulative token counts in
  hash-determined order, cut at a budget: "give me ~N tokens from each
  source" as one window over one shuffle.
- **Vocabulary top-k** — corpus term frequency (explode -> count -> top-k);
  partial aggregation collapses the token blowup map-side before the
  shuffle.
- **Decontamination** — flag training docs sharing any k-gram shingle with
  a benchmark set. The benchmark side is small by construction, so its
  distinct shingle set broadcasts; the train side is never self-joined.
- **PII redaction** — built-in ``regexp_replace`` chain (emails, phone-ish
  digit runs, IPv4); JVM-side, no UDFs.
- **Quantile quality filtering** — keep the best fraction per stratum:
  an exact rank-based cut (oracle-checkable).
- **Boilerplate discovery** — word-n-gram document frequency over the
  corpus (the C4/RefinedWeb repeated-boilerplate profile).
- **Incremental dedup** — new-batch content fingerprints anti-joined
  against the accumulated index; the continuous-ingestion complement to
  the whole-corpus dedup in operators/dedup.py.

Every sampling decision is a pure function of (salt, key), so any engine —
or the DuckDB oracle — reproduces the exact same subset bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions.literals import local_relation
from autonomous_orchestrator_ai_spark.functions.text import (
    fingerprint,
    token_count,
    tokens,
    word_shingles,
)

# ---------------------------------------------------------------------------
# Deterministic hash sampling
# ---------------------------------------------------------------------------

#: Resolution of the sampling threshold: first 4 hex chars of the digest
#: (16 bits — fraction granularity 1/65536).
_HEX_CHARS = 4
_BUCKETS = 16 ** _HEX_CHARS


def sample_hash(key: Column | str, salt: str = "") -> Column:
    """Portable per-row draw: ``md5('<salt>:' || key)``. Lowercase hex in
    both Spark and DuckDB; lexicographic order on the hex string equals
    numeric order, so thresholding needs no integer conversion."""
    key = F.col(key) if isinstance(key, str) else key
    return F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string")))


def hex_threshold(fraction: float) -> str | None:
    """4-hex-char threshold such that P[hash_prefix < threshold] ==
    round(fraction * 65536)/65536. ``None`` means keep everything."""
    if fraction >= 1.0:
        return None
    buckets = max(int(round(fraction * _BUCKETS)), 0)
    return format(buckets, f"0{_HEX_CHARS}x")


def sample_predicate(fraction: float, key_col: str, salt: str = "") -> Column:
    """The keep-row predicate for ``deterministic_sample`` (exposed so SQL
    oracles and composed pipelines can reuse it)."""
    thr = hex_threshold(fraction)
    if thr is None:
        return F.lit(True)
    return F.substring(sample_hash(key_col, salt), 1, _HEX_CHARS) < thr


def deterministic_sample(
    df: DataFrame, fraction: float, key_col: str, salt: str = ""
) -> DataFrame:
    """Keep ~``fraction`` of rows, decided per-row from md5(salt:key).

    Map-side only: the filter pushes into the scan stage, costs one digest
    per row, and never shuffles. Same (salt, key) -> same decision on any
    cluster size, so reruns and engine ports see the identical subset.
    """
    return df.filter(sample_predicate(fraction, key_col, salt))


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling ("30% of src0, 10% of src1, ...").

    The (stratum -> threshold) table rides a broadcast join — rates are
    data, not plan, so 10k strata cost the same plan as 10. Strata absent
    from ``fractions`` are dropped (fraction 0). This is the deterministic
    twin of ``df.sampleBy`` (which is RNG-seeded per partition and NOT
    stable under repartitioning).
    """
    spark = df.sparkSession
    rates = local_relation(
        spark,
        [(s, hex_threshold(f) or "zzzz") for s, f in fractions.items()],
        f"`{strata_col}` string, __thr string",
    )
    draw = F.substring(sample_hash(key_col, salt), 1, _HEX_CHARS)
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(draw < F.col("__thr"))
        .drop("__thr")
    )


# ---------------------------------------------------------------------------
# Token-budget packing (data mixing)
# ---------------------------------------------------------------------------


def token_budget_pack(
    df: DataFrame,
    budget_tokens: int,
    text_col: str,
    id_col: str,
    strata_col: str | None = None,
) -> DataFrame:
    """Select documents until each stratum holds ~``budget_tokens`` tokens.

    Docs are taken in md5('mix:' || id) order (a deterministic shuffle of the
    corpus — no recency/size bias) and kept while the running token total
    stays <= budget. Adds ``n_tokens`` and ``running_tokens`` columns.

    One shuffle (the window partition on the stratum). Budget skew is
    bounded: each stratum's window state is a single running sum, and a
    stratum's rows sort within its partition only — no global sort. At the
    100 TB scale the stratum count (data sources) is small; per-stratum
    row counts are bounded by budget/min_doc_tokens regardless of corpus
    size, because the window can early-stop at the cut in one pass over
    the sorted partition.
    """
    part = [strata_col] if strata_col else [F.lit(1)]
    w = (
        Window.partitionBy(*part)
        .orderBy(sample_hash(id_col, "mix"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_running = df.withColumn("n_tokens", token_count(text_col)).withColumn(
        "running_tokens", F.sum("n_tokens").over(w)
    )
    return with_running.filter(F.col("running_tokens") <= budget_tokens)


# ---------------------------------------------------------------------------
# Vocabulary profiling
# ---------------------------------------------------------------------------


def top_k_tokens(
    df: DataFrame, k: int, text_col: str = "text"
) -> DataFrame:
    """Corpus term frequency, top-k: (token, n) with a total order
    (count desc, token asc) so the LIMIT is deterministic.

    explode -> groupBy(token).count() gets map-side partial aggregation
    for free (the shuffle carries one row per distinct token per
    partition, not one per occurrence); the top-k itself is
    TakeOrderedAndProject — no global sort materialization."""
    text = F.col(text_col)
    toks = df.select(F.explode(tokens(F.lower(text))).alias("token")).filter(
        F.col("token") != ""
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Repetition quality filters (Gopher/C4-style rules)
# ---------------------------------------------------------------------------


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals for quality filtering:

    - ``distinct_token_ratio`` — distinct/total tokens (per-row expression);
    - ``top_bigram_frac`` — occurrences of the most frequent word bigram
      over total bigrams (the "repeated n-gram" rule from large-corpus
      quality pipelines).

    The bigram mode is computed explode -> groupBy(doc, gram) -> groupBy(doc)
    — linear in corpus size with map-side partial aggregation, instead of
    the per-row O(len^2) higher-order-function count-each-element shape,
    which degrades quadratically on long documents. Two shuffles, both keyed
    by doc id (the second reuses the first's partitioning under AQE).
    Documents with fewer than two tokens get top_bigram_frac 0.0.
    """
    from autonomous_orchestrator_ai_spark.functions.text import (
        distinct_token_ratio,
        normalized_text,
    )

    toks = tokens(normalized_text(F.col(text_col)))
    n = F.size(toks)
    bigrams = F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(toks, 1, F.greatest(n - 1, F.lit(1))),
            F.slice(toks, 2, F.greatest(n - 1, F.lit(1))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )
    grams = df.select(F.col(id_col), F.explode(bigrams).alias("__g"))
    gram_counts = grams.groupBy(id_col, "__g").agg(F.count(F.lit(1)).alias("__c"))
    per_doc = gram_counts.groupBy(id_col).agg(
        F.max("__c").alias("__top"), F.sum("__c").alias("__total")
    )
    base = df.select(
        F.col(id_col),
        F.round(distinct_token_ratio(text_col), 6).alias("distinct_token_ratio"),
    )
    return base.join(per_doc, id_col, "left").select(
        F.col(id_col),
        "distinct_token_ratio",
        F.round(
            F.coalesce(F.col("__top") / F.col("__total"), F.lit(0.0)), 6
        ).alias("top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def contamination_report(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
) -> DataFrame:
    """Training docs sharing at least one word-``k``-gram shingle with any
    benchmark doc: (id, n_shared_shingles).

    The benchmark's distinct shingle set is broadcast (eval sets are small
    by construction), so the train side is a single scan + broadcast hash
    join + partial-agg count: no shuffle of the corpus, no self-join. For
    benchmark sets too big to broadcast, swap the broadcast for the
    Bloom-filter semi-join in operators/sketch.py and exact-verify the
    survivors."""
    bench_shingles = (
        benchmark.select(
            F.explode(word_shingles(text_col, shingle_k)).alias("__s")
        ).distinct()
    )
    train_shingles = train.select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_k)).alias("__s")
    )
    # Join BEFORE the distinct: the broadcast hash join filters the train
    # shingle stream down to benchmark hits map-side, so the dedup shuffle
    # carries only matches — not the entire corpus's (id, shingle) pairs.
    return (
        train_shingles.join(F.broadcast(bench_shingles), "__s")
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


# ---------------------------------------------------------------------------
# Quantile-based quality filtering
# ---------------------------------------------------------------------------


def quality_quantile_filter(
    df: DataFrame,
    keep_frac: float,
    score: Column | str,
    strata_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the best ~``keep_frac`` of rows by ``score`` within each stratum
    ("top 25% quality docs per source" — the standard corpus quality gate).

    Rank-based: ``percent_rank`` over (score desc, id asc). The boundary is
    integer arithmetic ((rank-1)/(n-1) vs the fraction), so the kept set is
    deterministic and engine-portable — unlike a float threshold, where a
    row sitting exactly on an approximated cut flips between engines.

    Cost: one shuffle + per-stratum sort (the window partition). Fine while
    every stratum fits a sort spill.
    """
    score = F.col(score) if isinstance(score, str) else score
    part = [F.col(strata_col)] if strata_col else [F.lit(1)]
    w = Window.partitionBy(*part).orderBy(score.desc(), F.col(id_col).asc())
    return (
        df.withColumn("__pr", F.percent_rank().over(w))
        .filter(F.col("__pr") <= keep_frac)
        .drop("__pr")
    )


# ---------------------------------------------------------------------------
# Boilerplate discovery (n-gram document frequency)
# ---------------------------------------------------------------------------


def ngram_doc_frequency(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """(shingle, doc_freq) for word ``k``-grams appearing in at least
    ``min_docs`` distinct documents — the C4/RefinedWeb "boilerplate
    discovery" profile (cookie banners, nav bars, license footers show up
    here first).

    ``word_shingles`` is distinct per document, so the exploded (doc, gram)
    pairs are already unique — no ``distinct()`` and therefore no extra
    shuffle before the count; the single groupBy gets map-side partial
    aggregation, so the shuffle carries one row per distinct gram per
    partition, not one per occurrence."""
    grams = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, k)).alias("shingle")
    )
    return (
        grams.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_docs)
    )


# ---------------------------------------------------------------------------
# Incremental dedup (new batch vs accumulated fingerprint index)
# ---------------------------------------------------------------------------


def dedup_batch_against_index(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fp",
) -> DataFrame:
    """Continuous-ingestion dedup: drop batch rows whose content fingerprint
    is already in the accumulated ``index`` (one ``fp_col`` column), then
    keep one row (smallest id) per fingerprint within the batch itself.
    Returns survivors with the fingerprint column attached; their
    fingerprints are the rows to append to the index.

    The anti-join shuffles both sides on fp. At the 100 TB scale the index
    dwarfs every batch, so (a) persist the index BUCKETED by fp
    (``operators.skew.write_bucketed``) — its side of the join then reads
    pre-partitioned with no exchange; (b) optionally pre-filter the batch
    through a Bloom sketch of the index (``operators.sketch``) so only
    probable hits reach the exact anti-join."""
    fps = batch.withColumn(fp_col, fingerprint(text_col))
    fresh = fps.join(index.select(fp_col), fp_col, "left_anti")
    w = Window.partitionBy(fp_col).orderBy(F.col(id_col).asc())
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: (pattern, replacement) chain, applied in order. All built-in
#: regexp_replace — stays inside whole-stage codegen.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d().\-\s]{6,}\d", "<PHONE>"),
]


def redact_pii(text: Column | str) -> Column:
    """Replace emails, IPv4 addresses, and phone-like digit runs with typed
    placeholder tags. Order matters: emails first (they contain dots and
    digits), IPs before generic digit runs."""
    out = F.col(text) if isinstance(text, str) else text
    for pattern, replacement in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, replacement)
    return out


def pii_hit_counts(text: Column | str) -> Column:
    """Struct of per-category match counts (email/ip/phone) — the audit
    aggregate run before deciding to redact."""
    text = F.col(text) if isinstance(text, str) else text
    counts = []
    names = ["emails", "ips", "phones"]
    scrubbed = text
    for (pattern, _), name in zip(PII_PATTERNS, names):
        counts.append(
            F.size(F.regexp_extract_all(scrubbed, F.lit(pattern), F.lit(0)))
            .cast("bigint")
            .alias(name)
        )
        # remove already-counted spans so phone-run counting never re-reads
        # the digits inside an email/IP
        scrubbed = F.regexp_replace(scrubbed, pattern, " ")
    return F.struct(*counts)


#: 13 lowercase-hex chars = 52 bits — exactly representable in a double.
_KEY_HEX_CHARS = 13
_KEY_BUCKETS = float(16**_KEY_HEX_CHARS)


def weighted_sample_key(
    weight: Column, id_col: Column | str, salt: str = ""
) -> Column:
    """Efraimidis–Spirakis (A-ES) sort key for weighted sampling WITHOUT
    replacement: rank by ``ln(u) / w`` descending, where ``u`` is the
    row's deterministic md5 uniform draw. Taking the global top-k of this
    key IS a weighted sample of size k — one expression per row, no
    shuffle beyond the top-k itself, and portable: any engine recomputing
    md5 + the same arithmetic selects the identical rows."""
    h = sample_hash(id_col, salt)
    v = F.conv(F.substring(h, 1, _KEY_HEX_CHARS), 16, 10).cast("double")
    u = (v + F.lit(0.5)) / F.lit(_KEY_BUCKETS)
    return F.log(u) / weight


def weighted_sample(
    df: DataFrame,
    k: int,
    weight: Column,
    id_col: str,
    salt: str = "",
) -> DataFrame:
    """Top-``k`` rows by the A-ES key (ties broken by id): a
    weight-proportional sample without replacement. Rows with
    non-positive weight are excluded. Plan shape is
    TakeOrderedAndProject — per-partition top-k partials, single
    driver-side merge of k rows per partition, never a full sort."""
    keyed = df.filter(weight > 0).withColumn(
        "__wkey", weighted_sample_key(weight, id_col, salt)
    )
    return (
        keyed.orderBy(F.desc("__wkey"), F.asc(id_col))
        .limit(k)
        .drop("__wkey")
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    window_tokens: int,
    partition_col: str,
    order_col: str,
) -> DataFrame:
    """Greedy in-order sequence packing: concatenate documents in
    ``order_col`` order within each ``partition_col`` group and assign each
    to the fixed-size training window its start offset lands in
    (``seq_id``). The cumulative sum is per-partition-key, so the sort/
    window parallelizes across groups — never a global single-partition
    cumsum; at corpus scale the partition column (source, shard, date) is
    what keeps every executor busy. Adds ``seq_start_offset`` and
    ``seq_id``."""
    if window_tokens <= 0:
        raise ValueError("window_tokens must be positive")
    w = (
        Window.partitionBy(partition_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(token_col).over(w), F.lit(0)).cast("bigint")
    return df.withColumn("seq_start_offset", start).withColumn(
        "seq_id", F.floor(F.col("seq_start_offset") / float(window_tokens)).cast("bigint")
    )


# ---------------------------------------------------------------------------
# Filter funnel (C4 / Gopher / RefinedWeb rule cascade)
# ---------------------------------------------------------------------------


def first_failed_rule(rules: list[tuple[str, Column]]) -> Column:
    """Name of the FIRST rule a row fails (null = passes all): the
    standard quality-cascade attribution, one CASE expression, one pass.
    Rules are (name, keep-predicate) in application order. A NULL
    predicate counts as FAILING its rule — matching what a real
    ``.filter(pred)`` cascade does (filter drops NULL), so n_out always
    equals the size of the sequentially-filtered output."""
    if not rules:
        raise ValueError("rules must be non-empty")
    expr = None
    for name, pred in rules:
        fails = ~F.coalesce(pred, F.lit(False))
        expr = (
            F.when(fails, F.lit(name))
            if expr is None
            else expr.when(fails, F.lit(name))
        )
    return expr.otherwise(F.lit(None).cast("string"))


def filter_funnel(df: DataFrame, rules: list[tuple[str, Column]]) -> DataFrame:
    """Per-stage funnel report for an ordered rule cascade: one row per
    rule with (stage, rule, n_in, n_dropped, n_out, drop_rate).

    One scan, one single-row aggregate (count + one conditional sum per
    rule — all map-side partials), then the per-stage rows are pure
    arithmetic over that row, exploded. No per-stage re-filtering: a
    10-rule funnel over 100 TB still reads the data exactly once."""
    ff = first_failed_rule(rules).alias("__ff")
    agg = df.select(ff).agg(
        F.count(F.lit(1)).alias("__total"),
        *[
            F.sum((F.col("__ff") == name).cast("bigint")).alias(f"__d{i}")
            for i, (name, _) in enumerate(rules)
        ],
    )
    stages = []
    n_in: Column = F.col("__total")
    for i, (name, _) in enumerate(rules):
        dropped = F.coalesce(F.col(f"__d{i}"), F.lit(0)).cast("bigint")
        stages.append(
            F.struct(
                F.lit(i).cast("bigint").alias("stage"),
                F.lit(name).alias("rule"),
                n_in.cast("bigint").alias("n_in"),
                dropped.alias("n_dropped"),
                (n_in - dropped).cast("bigint").alias("n_out"),
            )
        )
        n_in = n_in - dropped
    return (
        agg.select(F.explode(F.array(*stages)).alias("__s"))
        .select("__s.*")
        .withColumn(
            "drop_rate",
            F.round(F.col("n_dropped") / F.greatest(F.col("n_in"), F.lit(1)), 6),
        )
    )


# ---------------------------------------------------------------------------
# Per-group caps (domain/source frequency capping)
# ---------------------------------------------------------------------------


def cap_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cap: int,
    salt: str = "cap",
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen deterministically by
    md5 draw (the CommonCrawl-style per-domain frequency cap: no domain
    may dominate the mix). The window partitions by group, so the sort
    parallelizes across groups — hot groups are exactly the ones being
    cut to ``cap``. Adds nothing; returns the kept rows."""
    w = Window.partitionBy(group_col).orderBy(
        sample_hash(F.col(id_col), salt), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Hash sharding (training shard assignment)
# ---------------------------------------------------------------------------


def shard_assignment(
    id_col: Column | str, n_shards: int, salt: str = "shard"
) -> Column:
    """Deterministic shard id in [0, n_shards): 16-bit md5 prefix mod
    n_shards. Portable (md5, not xxhash), uniform, and stable under
    corpus growth — a doc's shard never changes when other docs arrive,
    which is what makes incremental shard refresh possible."""
    id_col = F.col(id_col) if isinstance(id_col, str) else id_col
    h = sample_hash(id_col, salt)
    return (
        F.conv(F.substring(h, 1, _HEX_CHARS), 16, 10).cast("bigint")
        % n_shards
    ).cast("bigint")


# ---------------------------------------------------------------------------
# Mixture / epoch planning
# ---------------------------------------------------------------------------


def mixture_epoch_plan(
    per_source_tokens: DataFrame,
    weights: dict[str, float],
    target_tokens: int,
    source_col: str = "source",
    tokens_col: str = "available_tokens",
) -> DataFrame:
    """Training-mix plan: given per-source available token counts, target
    mixture weights, and a total token budget, compute each source's
    allocated tokens and epoch count (allocation / available — >1 means
    the source repeats, the data-constrained-scaling question). Unlisted
    sources get weight 0.

    Weight delivery is sized to the map: small maps (<= 64 sources — the
    realistic training-mix case) ride as a ``create_map`` literal lookup,
    which adds ~nothing to the plan and avoids the driver-side
    createDataFrame job + broadcast exchange that cost a constant ~0.6 s
    per run (the r3 driver bench measured the always-broadcast form at
    0.47 -> 1.13 s); larger maps switch to a broadcast literal table so
    the plan never carries a giant expression."""
    spark = per_source_tokens.sparkSession
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError(
            "weights must be non-empty with positive total "
            f"(got {weights!r})"
        )
    norm = {s: float(w) / total_w for s, w in weights.items()}
    if len(norm) <= 64:
        wmap = F.create_map(
            *[F.lit(x) for kv in norm.items() for x in kv]
        )
        weighted = per_source_tokens.withColumn(
            "weight", F.element_at(wmap, F.col(source_col))
        )
    else:
        wdf = local_relation(
            spark, list(norm.items()), f"`{source_col}` string, weight double"
        )
        weighted = per_source_tokens.join(
            F.broadcast(wdf), source_col, "left"
        )
    return (
        weighted
        .withColumn("weight", F.coalesce(F.col("weight"), F.lit(0.0)))
        .select(
            source_col,
            F.col(tokens_col).cast("bigint").alias(tokens_col),
            F.round("weight", 6).alias("weight"),
            F.round(F.col("weight") * target_tokens, 2).alias(
                "allocated_tokens"
            ),
            F.round(
                F.col("weight")
                * target_tokens
                / F.greatest(F.col(tokens_col), F.lit(1)),
                4,
            ).alias("epochs"),
            (
                F.col("weight") * target_tokens
                > F.col(tokens_col).cast("double")
            ).alias("oversampled"),
        )
    )


def assign_split(
    df: DataFrame,
    key_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment: 'split' column
    from the portable md5 draw (``sample_hash``) against cumulative 4-hex
    thresholds. A document's split depends only on (salt, key), so it is
    stable under corpus growth and identical in any engine — the property
    an eval split must have for results to be comparable across pipeline
    runs. Quantization granularity is 1/65536 (same as
    ``deterministic_sample``)."""
    h = F.substring(sample_hash(key_col, salt), 1, _HEX_CHARS)
    return df.withColumn(
        "split",
        F.when(h < hex_threshold(0.8), F.lit("train"))
        .when(h < hex_threshold(0.9), F.lit("val"))
        .otherwise(F.lit("test")),
    )


def cluster_safe_split(
    docs: DataFrame,
    components: DataFrame,
    key_col: str = "doc_id",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split UNIT is the
    near-dup cluster, not the document, so a near-duplicate of a training
    doc can never land in eval (the failure mode ``split_leakage_report``
    measures for per-doc hashing; this is the fix — Lee et al. 2022 §6.2
    observed eval contamination from exactly this).

    ``components`` is ``graph.connected_components`` output (node,
    component) over the near-dup edge list; docs absent from it are
    singletons and fall back to their own key (LEFT join + coalesce), so
    the unit id of a non-duplicated doc is itself. The draw hashes the
    UNIT id (salt ``csplit``) through the same portable md5 thresholds as
    ``assign_split`` — stable under corpus growth, engine-portable, and by
    construction constant within a cluster.

    Scale shape: one broadcast-or-shuffle join of docs against the
    component map (bounded by the number of near-dup DOCS, typically a
    few % of the corpus), then a map-side hash — no new shuffle beyond
    the join. Adds columns: split_unit, split."""
    comp = components.select(
        F.col("node").alias(key_col), F.col("component")
    )
    with_unit = docs.join(comp, key_col, "left").withColumn(
        "split_unit", F.coalesce(F.col("component"), F.col(key_col))
    ).drop("component")
    return assign_split(with_unit, "split_unit", "csplit")
