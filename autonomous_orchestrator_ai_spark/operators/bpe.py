"""BPE (byte-pair-encoding) merge training, Spark-first (Sennrich et al.
2016, "Neural machine translation of rare words with subword units") —
the tokenizer-training primitive of an LLM data pipeline.

The scale insight (same as every real BPE trainer): the corpus collapses
to a WORD-FREQUENCY table first — one map-side-combined groupBy — and all
training iterations run over that vocabulary-bounded table (≤ a few
hundred k rows at ANY corpus size), never over raw text again. At 100 TB
the corpus pass is one aggregation; the merge loop is driver-paced work
on a table that fits in one executor's cache.

Symbolization state is a DOUBLE-SEPARATOR-DELIMITED STRING
(``␟␟a␟␟b␟␟c␟␟`` for symbols [a, b, c], ␟ = U+001F): applying merge
(x, y) is then a single literal ``replace('␟x␟␟y␟' -> '␟xy␟')``. The
double separator buys two properties a single-delimiter encoding lacks:

* **Left anchoring.** The pattern starts with ``␟x``, so ``x`` can only
  match a WHOLE symbol, never the suffix of a longer one (single-sep
  ``x␟y␟`` would merge across symbol boundaries: state ``b|an|d`` +
  merge (n, d) -> ``b|and``).
* **Adjacent-occurrence chaining.** Consecutive matches do not share
  characters: a match consumes only the SECOND ␟ of the left boundary
  pair and the FIRST ␟ of the right one, so ``replace``'s
  continue-after-match scan lands exactly on the leading ␟ of the next
  occurrence. One pass therefore merges ``a a a a a`` into
  ``aa aa a`` — Sennrich's leftmost non-overlapping order — with no
  fixpoint loop.

``replace`` substitutes left-to-right over non-overlapping occurrences
identically in Spark and DuckDB, which is what makes the 8-round
training loop ORACLE-EXACT (plans/bpe_queries.py unrolls the same
rounds as chained CTEs) instead of rows-only-checked.

Vocabulary scope: lowercase whitespace tokens matching ``^[a-z0-9]+$``.
Normalizing away punctuation/mixed-unicode words keeps the pair alphabet
clean AND sidesteps the one engine divergence in this area (Java regex
walks UTF-16 units, DuckDB walks codepoints — they disagree only outside
the BMP, which the filter excludes entirely).

Two routes share the one corpus pass (the checkpointed ``(seq, cnt)``
table) and the semantics above:

* **Driver route** (vocabulary ≤ ``DRIVER_VOCAB_MAX`` distinct words):
  the table is collected once and every merge round runs in plain
  Python — pair counts weighted by ``cnt`` from ``seq.split(␟␟)[1:-1]``,
  top pair by ``(-cnt, a, b)``, one left-to-right ``str.replace``. Python
  and Java ``replace`` scan identically, so both routes return the same
  merges. One corpus pass plus one collect per training.
* **Distributed route** (larger vocabularies): each round aggregates pair
  counts and collects ONE top row; the state column is localCheckpoint'd
  every few merges (never after the last) so the replace-chain lineage
  stays bounded (the pagerank pattern from operators/graph.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions.text import lower_tokens
from autonomous_orchestrator_ai_spark.routes import record_route

#: U+001F unit separator: cannot occur in ``^[a-z0-9]+$`` words.
SEP = "\x1f"
#: the symbol boundary: two separators (see module docstring).
DSEP = SEP + SEP


def bpe_word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over lowercase whitespace tokens, restricted to
    ``^[a-z0-9]+$``. The ONE corpus-scale pass; everything after is
    vocabulary-bounded."""
    tok = F.explode(
        lower_tokens(text_col)
    ).alias("word")
    return (
        df.select(tok)
        .where(F.col("word").rlike("^[a-z0-9]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def bpe_initial_state(word_counts: DataFrame) -> DataFrame:
    """Adds ``seq``: the char-level symbolization ``␟␟c1␟␟c2␟␟…cn␟␟``."""
    return word_counts.withColumn(
        "seq",
        F.concat(
            F.lit(DSEP), F.regexp_replace(F.col("word"), "(.)", "$1" + DSEP)
        ),
    )


def _symbols(seq: Column) -> Column:
    """seq -> symbol array (drops the empty elements around the leading
    and trailing ``␟␟`` boundaries)."""
    arr = F.split(seq, DSEP)
    return F.slice(arr, 2, F.size(arr) - 2)


def bpe_pair_counts(state: DataFrame) -> DataFrame:
    """(a, b, cnt): adjacent-symbol pair frequencies weighted by word
    count — vocabulary-bounded input, pair-alphabet-bounded output."""
    syms = _symbols(F.col("seq"))
    pairs = F.expr(
        "transform(sequence(1, size(__syms) - 1), "
        "i -> struct(__syms[i - 1] AS a, __syms[i] AS b))"
    )
    return (
        state.withColumn("__syms", syms)
        .where(F.size("__syms") >= 2)
        .select(F.explode(pairs).alias("p"), "cnt")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("cnt"))
    )


def bpe_apply_merge(state: DataFrame, a: str, b: str) -> DataFrame:
    """One merge as one literal replace: ``␟a␟␟b␟`` -> ``␟ab␟``.

    Consumes the inner separator of each boundary pair, leaving the outer
    ones to re-form ``␟␟`` boundaries with the neighbors — the invariant
    that makes a single left-to-right ``replace`` exactly Sennrich's
    leftmost non-overlapping merge order (see module docstring)."""
    return state.withColumn(
        "seq",
        F.replace(
            F.col("seq"),
            F.lit(f"{SEP}{a}{DSEP}{b}{SEP}"),
            F.lit(f"{SEP}{a}{b}{SEP}"),
        ),
    )


#: Largest vocabulary (distinct words) trained on the driver; above it
#: the merge rounds run as Spark jobs. Measured in PERF.md ("BPE driver
#: route"; the probe that measured it is in git history, bb51f47): at
#: 10^5 words the driver route trains 3x faster than the distributed one
#: on 4 cores; they break even near 10^6. The ``bpe_merge_loop`` route
#: record gives each build's vocabulary size and choice.
DRIVER_VOCAB_MAX = 100_000


def _driver_merges(
    vocab: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """The merge rounds of bpe_train over a collected ``(seq, cnt)`` list:
    the same counting, tie-break and replace as the Spark loop."""
    seqs = [seq for seq, _ in vocab]
    cnts = [cnt for _, cnt in vocab]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for seq, cnt in zip(seqs, cnts):
            syms = seq.split(DSEP)[1:-1]
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + cnt
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, cnt))
        old, new = f"{SEP}{a}{DSEP}{b}{SEP}", f"{SEP}{a}{b}{SEP}"
        seqs = [seq.replace(old, new) for seq in seqs]
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns [(rank, a, b, cnt), ...].

    Each round: count pairs (vocab-bounded), pick the top pair (cnt desc,
    then (a, b) asc — the deterministic tie-break both engines share),
    apply the merge. Stops early when no pair remains. A vocabulary of at
    most ``DRIVER_VOCAB_MAX`` words runs every round on the driver;
    a larger one runs each round as Spark jobs (module docstring). The
    choice is the ``bpe_merge_loop`` route record."""
    state = bpe_initial_state(bpe_word_counts(df, text_col)).localCheckpoint()
    vocab = state.select("seq", "cnt").limit(DRIVER_VOCAB_MAX + 1).collect()
    route = record_route(
        "bpe_merge_loop",
        inputs={"vocab_rows_read": len(vocab)},
        estimate=len(vocab),
        budget=DRIVER_VOCAB_MAX,
        chosen="driver" if len(vocab) <= DRIVER_VOCAB_MAX else "distributed",
    )
    if route == "driver":
        return _driver_merges([(r["seq"], int(r["cnt"])) for r in vocab], n_merges)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            bpe_pair_counts(state)
            .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((rank, a, b, cnt))
        state = bpe_apply_merge(state, a, b)
        if rank % 4 == 0 and rank < n_merges:
            state = state.localCheckpoint()
    return merges


def bpe_segment(
    df: DataFrame,
    word_col: str,
    merges: list[tuple[int, str, str, int]],
) -> DataFrame:
    """Apply learned merges to segment words: adds ``bpe_tokens``
    (array<string>). The merge chain is a fixed expression pipeline —
    pure map-side, no shuffle, codegen-friendly."""
    seq = F.concat(
        F.lit(DSEP), F.regexp_replace(F.col(word_col), "(.)", "$1" + DSEP)
    )
    for _, a, b, _ in merges:
        seq = F.replace(
            seq, F.lit(f"{SEP}{a}{DSEP}{b}{SEP}"), F.lit(f"{SEP}{a}{b}{SEP}")
        )
    return df.withColumn("bpe_tokens", _symbols(seq))


#: id of the out-of-vocabulary (non-``^[a-z0-9]+$``) word placeholder.
UNK_ID = 0


def _token_id(tok: Column, merges: list[tuple[int, str, str, int]]) -> Column:
    """Deterministic token-id scheme shared with the DuckDB oracle:
    single-char symbols map to their codepoint (base vocabulary), each
    merge product ``a+b`` to ``256 + merge_rank`` (min rank if two merges
    ever concat to the same string). Anything else (impossible for
    replace-chain output) falls back to UNK_ID."""
    mapping: dict[str, int] = {}
    for rank, a, b, _ in merges:
        mapping.setdefault(a + b, 256 + rank)
    expr = F.when(F.length(tok) == 1, F.ascii(tok))
    for s, i in sorted(mapping.items()):
        expr = expr.when(tok == F.lit(s), F.lit(i))
    return expr.otherwise(F.lit(UNK_ID))


def bpe_word_encodings(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
) -> DataFrame:
    """The encode TABLE: (word, cnt, n_sub, ids_str) for every distinct
    in-vocabulary word of the corpus — segmentation and id assignment run
    ONCE per distinct word (vocabulary-bounded), never per occurrence.
    ``ids_str`` is the space-joined token-id sequence (engine-portable
    join/compare key; parse back with split+cast when arrays are needed).

    This is the production encode shape for 100 TB: the corpus pass is
    one word-count aggregation; applying the tokenizer to every document
    is then a word-keyed join against this table (see
    bpe_doc_token_counts), not a per-document replay of the merge chain.
    """
    seg = bpe_segment(bpe_word_counts(df, text_col), "word", merges)
    ids = F.transform(
        F.col("bpe_tokens"),
        lambda t: _token_id(t, merges).cast("string"),
    )
    return seg.select(
        "word",
        "cnt",
        F.size("bpe_tokens").alias("n_sub"),
        F.array_join(ids, " ").alias("ids_str"),
    )


def bpe_doc_token_counts(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT tokenizer-true counts per document: (id, n_words,
    n_oov_words, n_tokens). In-vocabulary words contribute their BPE
    subword count; out-of-vocabulary words (punctuation soup, mixed
    unicode — anything outside ``^[a-z0-9]+$``) contribute one UNK token,
    the byte-fallback stand-in. ``n_tokens`` is what sequence packing and
    token budgeting must use — whitespace word counts under-count long
    words a tokenizer splits.

    Scale shape: one word explode (linear in corpus tokens) + one
    word-keyed join against the vocabulary-bounded encode table + one
    per-doc aggregation. No broadcast hint on the encode table: vocabulary
    grows (slowly) with the corpus, so the planner/AQE decides."""
    words = docs.select(
        id_col,
        F.explode(
            lower_tokens(text_col)
        ).alias("word"),
    )
    enc = bpe_word_encodings(docs, merges, text_col)
    joined = words.join(enc.select("word", "n_sub"), "word", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.col("n_sub").isNull().cast("bigint")).alias("n_oov_words"),
        F.sum(F.coalesce(F.col("n_sub"), F.lit(1)))
        .cast("bigint")
        .alias("n_tokens"),
    )
