"""BPE tokenizer-training queries (operators/bpe.py).

``bpe_learned_merges`` is the unusual one: an ITERATIVE algorithm with a
full value-hash oracle. The DuckDB side unrolls the same 8 training
rounds as chained CTEs — possible because one BPE merge is one literal
``replace`` over the delimited symbolization (see operators/bpe.py), and
``replace`` is engine-identical. So the driver's hash gate covers the
whole training loop, not just round one (contrast: k-means-backed
``ivf_ann_topk`` stays rows-only because float centroid iteration can't
be mirrored exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from autonomous_orchestrator_ai_spark.functions.literals import local_relation
from autonomous_orchestrator_ai_spark.functions.text import lower_tokens
from autonomous_orchestrator_ai_spark.operators.bpe import (
    bpe_initial_state,
    bpe_pair_counts,
    bpe_segment,
    bpe_train,
    bpe_word_counts,
)
from autonomous_orchestrator_ai_spark.plans.registry import register, table

_N_MERGES = 8

#: word-frequency CTE: lowercase whitespace tokens, [a-z0-9]+ only
#: (operators/bpe.py vocabulary scope).
_WC = (
    "wc AS (SELECT t AS word, COUNT(*) AS cnt "
    "FROM documents, unnest(string_split_regex(lower(trim(text)), '\\s+')) "
    "AS u(t) WHERE regexp_matches(t, '^[a-z0-9]+$') GROUP BY t)"
)


@register(
    "bpe_top_pairs",
    oracle=f"""
    WITH {_WC},
    pc AS (
      SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b,
             SUM(cnt) AS cnt
      FROM wc, unnest(range(1, len(word))) AS r(i)
      WHERE len(word) >= 2
      GROUP BY 1, 2)
    SELECT a, b, CAST(cnt AS BIGINT) AS cnt
    FROM pc ORDER BY cnt DESC, a, b LIMIT 40
    """,
)
def bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-0 BPE statistics: the 40 most frequent adjacent character
    pairs over the word-frequency table (total order: cnt desc, then the
    pair itself). The corpus collapses to the vocab-bounded word table in
    one aggregation; the pair explode multiplies VOCAB rows by avg word
    length — independent of corpus size."""
    docs = table(spark, sf_dir, "documents")
    state = bpe_initial_state(bpe_word_counts(docs, "text"))
    from pyspark.sql import functions as F

    return (
        bpe_pair_counts(state)
        .orderBy(F.col("cnt").desc(), "a", "b")
        .limit(40)
    )


def _training_ctes(n: int) -> str:
    """state0..state{n-1} + per-round pair counts and top-1 picks, as
    chained CTEs mirroring bpe_train round for round (double-separator
    symbolization ``␟␟a␟␟b␟␟`` — see operators/bpe.py)."""
    sep = "chr(31)"
    dsep = f"({sep} || {sep})"
    ctes = [
        _WC,
        f"state0 AS MATERIALIZED (SELECT {dsep} || "
        f"regexp_replace(word, '(.)', '\\1' || {dsep}, 'g')"
        " AS seq, cnt FROM wc)",
    ]
    for i in range(n):
        # l = ['', s1, ..., sn, '']: symbols at indices 2..len-1, pairs
        # (l[i], l[i+1]) for i in [2, len-2] (range upper bound exclusive).
        ctes.append(
            f"pc{i} AS MATERIALIZED ("
            f"SELECT list_extract(l, i) AS a, list_extract(l, i + 1) AS b, "
            f"SUM(cnt) AS cnt "
            f"FROM (SELECT string_split(seq, {dsep}) AS l, cnt "
            f"FROM state{i}) s, "
            f"unnest(range(2, len(s.l) - 1)) AS r(i) "
            f"GROUP BY 1, 2)"
        )
        ctes.append(
            f"t{i} AS MATERIALIZED (SELECT a, b, cnt FROM pc{i} "
            f"ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        if i < n - 1:
            ctes.append(
                f"state{i + 1} AS MATERIALIZED ("
                f"SELECT replace(s.seq, "
                f"{sep} || t.a || {dsep} || t.b || {sep}, "
                f"{sep} || t.a || t.b || {sep}) AS seq, s.cnt "
                f"FROM state{i} s, t{i} t)"
            )
    return "WITH " + ",\n".join(ctes)


_MERGES_FINAL = " UNION ALL ".join(
    f"SELECT {i + 1} AS merge_rank, a, b, CAST(cnt AS BIGINT) AS cnt FROM t{i}"
    for i in range(_N_MERGES)
)


@register(
    "bpe_learned_merges",
    oracle=_training_ctes(_N_MERGES) + "\n" + _MERGES_FINAL,
)
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 8 learned BPE merges (merge_rank, a, b, cnt) —
    operators.bpe.bpe_train over the vocab-bounded word table,
    hash-exact against the oracle's 8 unrolled rounds. Tie-break
    (cnt desc, a, b) is the determinism contract both engines share.
    The word table is built once; a vocabulary of at most
    ``bpe.DRIVER_VOCAB_MAX`` words (every fixture scale: 31 words) is
    collected and merged in plain Python, a larger one runs each round as
    Spark jobs. Both routes return the same merges."""
    docs = table(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", _N_MERGES)
    return local_relation(
        spark, merges, "merge_rank int, a string, b string, cnt bigint"
    )


@register(
    "bpe_compression_stats",
    oracle=_training_ctes(_N_MERGES)
    + f""",
    final AS (
      SELECT replace(s.seq,
                     chr(31) || t.a || chr(31) || chr(31) || t.b || chr(31),
                     chr(31) || t.a || t.b || chr(31)) AS seq, s.cnt
      FROM state{_N_MERGES - 1} s, t{_N_MERGES - 1} t)
    SELECT CAST(SUM(cnt) AS BIGINT) AS n_word_occurrences,
           CAST(SUM((len(string_split(seq, chr(31) || chr(31))) - 2) * cnt)
             AS BIGINT) AS n_tokens_after,
           CAST(SUM(len(replace(seq, chr(31), '')) * cnt) AS BIGINT)
             AS n_chars,
           ROUND(SUM((len(string_split(seq, chr(31) || chr(31))) - 2) * cnt)
                 * 1.0
                 / SUM(len(replace(seq, chr(31), '')) * cnt), 6)
             AS tokens_per_char
    FROM final
    """,
)
def bpe_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the 8 merges buy, measured over the corpus (weighted by word
    frequency): total subword tokens after segmentation vs raw chars.
    The segmentation (operators.bpe.bpe_segment) is a fixed map-side
    replace chain — the production encode path for 100 TB — applied here
    to the vocab table with occurrence weights, so the numbers equal a
    full-corpus re-encode at vocab-table cost."""
    from pyspark.sql import functions as F

    docs = table(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", _N_MERGES)
    wc = bpe_word_counts(docs, "text")
    seg = bpe_segment(wc, "word", merges)
    return seg.select(
        F.col("cnt"),
        (F.size("bpe_tokens") * F.col("cnt")).alias("tk"),
        (F.length("word") * F.col("cnt")).alias("ch"),
    ).agg(
        F.sum("cnt").cast("bigint").alias("n_word_occurrences"),
        F.sum("tk").cast("bigint").alias("n_tokens_after"),
        F.sum("ch").cast("bigint").alias("n_chars"),
        F.round(F.sum("tk") / F.sum("ch"), 6).alias("tokens_per_char"),
    )


# ---------------------------------------------------------------------------
# Corpus-scale tokenizer APPLICATION (operators/bpe.py encode surface)
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from autonomous_orchestrator_ai_spark.operators.bpe import (  # noqa: E402
    bpe_doc_token_counts,
    bpe_word_encodings,
)


def _encode_ctes() -> str:
    """_training_ctes + the word-preserving segmentation chain + the
    token-id vocabulary: ``segw`` is (word, n_sub, ids_str) — the exact
    mirror of operators.bpe.bpe_word_encodings (codepoint ids for
    single-char symbols, 256+min(rank) for merge products, OOV words are
    not in segw and join to NULL), over ``_N_MERGES`` merges."""
    sep = "chr(31)"
    dsep = f"({sep} || {sep})"
    ctes = [
        _training_ctes(_N_MERGES).removeprefix("WITH "),
        f"""seg0 AS (SELECT word, {dsep} ||
           regexp_replace(word, '(.)', '\\1' || {dsep}, 'g') AS seq FROM wc)""",
    ]
    for i in range(_N_MERGES):
        ctes.append(
            f"seg{i + 1} AS MATERIALIZED (SELECT word, "
            f"replace(s.seq, {sep} || t.a || {dsep} || t.b || {sep}, "
            f"{sep} || t.a || t.b || {sep}) AS seq FROM seg{i} s, t{i} t)"
        )
    vocab_union = " UNION ALL ".join(
        f"SELECT a || b AS tok, 256 + {i + 1} AS id FROM t{i}"
        for i in range(_N_MERGES)
    )
    ctes.append(
        f"mv AS MATERIALIZED (SELECT tok, MIN(id) AS id "
        f"FROM ({vocab_union}) GROUP BY tok)"
    )
    ctes.append(
        f"""segt AS (
        SELECT word, i, list_extract(l, i) AS tok
        FROM (SELECT word, string_split(seq, {dsep}) AS l FROM seg{_N_MERGES}) s,
             unnest(range(2, len(s.l))) AS r(i))"""
    )
    ctes.append(
        """segw AS MATERIALIZED (
        SELECT word, COUNT(*) AS n_sub,
               string_agg(CAST(CASE WHEN len(segt.tok) = 1 THEN ord(segt.tok)
                                    ELSE COALESCE(mv.id, 0) END AS VARCHAR),
                          ' ' ORDER BY segt.i) AS ids_str
        FROM segt LEFT JOIN mv ON segt.tok = mv.tok GROUP BY word)"""
    )
    return ",\n".join(ctes)


#: every word occurrence of every doc with its 0-based position (lowercase
#: whitespace split — the tokenizer's corpus view; OOV words included).
_DOC_WORDS = """dwords AS (
      SELECT doc_id, source, i - 1 AS pos, l[i] AS word
      FROM (SELECT doc_id, source,
                   string_split_regex(lower(trim(text)), '\\s+') AS l
            FROM documents) s,
           unnest(range(1, len(s.l) + 1)) AS r(i))"""

#: per-doc tokenizer-true counts (mirror of bpe_doc_token_counts).
_DOC_COUNTS = """dcounts AS MATERIALIZED (
      SELECT doc_id, ANY_VALUE(source) AS source,
             COUNT(*) AS n_words,
             SUM(CASE WHEN segw.word IS NULL THEN 1 ELSE 0 END) AS n_oov_words,
             SUM(COALESCE(segw.n_sub, 1)) AS n_tokens
      FROM dwords LEFT JOIN segw USING (word)
      GROUP BY doc_id)"""


@register(
    "bpe_encoded_corpus_stats",
    oracle=f"""
    WITH {_encode_ctes()},
    {_DOC_WORDS},
    {_DOC_COUNTS}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_oov_words) AS BIGINT) AS oov_words,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(SUM(n_tokens) * 1.0 / SUM(n_words), 6) AS tokens_per_word
    FROM dcounts GROUP BY source ORDER BY source
    """,
)
def bpe_encoded_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-WIDE tokenizer application: train the 8-merge BPE, encode
    every document, report exact per-source token economics (total
    tokenizer-true tokens, OOV word mass, fan-out per word). The encode is
    a word-keyed join against the vocabulary-bounded segmentation table —
    the merge chain runs once per DISTINCT word, so applying the tokenizer
    to 100 TB costs one word explode + one join, not a per-doc replay."""
    docs = table(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", _N_MERGES)
    counts = bpe_doc_token_counts(docs, merges)
    joined = docs.select("doc_id", "source").join(counts, "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
            F.sum("n_oov_words").cast("bigint").alias("oov_words"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.sum("n_tokens") / F.sum("n_words"), 6).alias(
                "tokens_per_word"
            ),
        )
        .orderBy("source")
    )


@register(
    "bpe_token_id_sequences",
    oracle=f"""
    WITH {_encode_ctes()},
    {_DOC_WORDS},
    seqs AS (
      SELECT doc_id,
             SUM(COALESCE(segw.n_sub, 1)) AS n_tokens,
             string_agg(COALESCE(segw.ids_str, '0'), ' ' ORDER BY pos)
               AS ids
      FROM dwords LEFT JOIN segw USING (word)
      WHERE doc_id < 40
      GROUP BY doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           md5(ids) AS ids_md5
    FROM seqs ORDER BY doc_id
    """,
)
def bpe_token_id_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-ID SEQUENCES, verified to the byte on a 40-doc slice: each
    doc's words are replaced by their id sequences (codepoint base vocab,
    256+rank merge ids, 0 for OOV) in original word order; the md5 of the
    space-joined ids proves the full sequence — order included — is
    engine-exact. This is the artifact a training pipeline ships to the
    data loader."""
    docs = table(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", _N_MERGES)
    enc = bpe_word_encodings(docs, merges)
    words = docs.where(F.col("doc_id") < 40).select(
        "doc_id",
        F.posexplode(
            lower_tokens("text")
        ).alias("pos", "word"),
    )
    j = words.join(enc.select("word", "n_sub", "ids_str"), "word", "left")
    per_doc = j.groupBy("doc_id").agg(
        F.sum(F.coalesce(F.col("n_sub"), F.lit(1)))
        .cast("bigint")
        .alias("n_tokens"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "ids_str"))),
                lambda s: F.coalesce(s["ids_str"], F.lit("0")),
            ),
            " ",
        ).alias("ids"),
    )
    return per_doc.select(
        "doc_id", "n_tokens", F.md5("ids").alias("ids_md5")
    ).orderBy("doc_id")
