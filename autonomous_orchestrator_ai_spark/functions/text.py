"""Text-analysis column functions for LLM training-data pipelines
(BASELINE.json north star: text analysis as first-class operators).

Everything here is built-in-expression based (split/regexp/higher-order
array functions) — JVM-side, codegen-friendly, no Python in the row path —
and each formula is deliberately SQL-expressible so the DuckDB oracle can
re-compute it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Tokenization
# ---------------------------------------------------------------------------

WHITESPACE_RE = r"\s+"

#: BPE-ish word/punct splitter: word chars | single non-space punct.
BPE_ISH_RE = r"[A-Za-z0-9_]+|[^\sA-Za-z0-9_]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokens (empty string -> empty array)."""
    text = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, WHITESPACE_RE)
    )


def lower_tokens(text: Column | str) -> Column:
    """Lowercase whitespace tokens, ``split(lower(trim(text)), '\\s+')``:
    the DuckDB oracles' ``string_split_regex(lower(trim(text)), '\\s+')``.
    An empty text gives ``['']``; callers drop the empty token."""
    text = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(F.trim(text)), WHITESPACE_RE)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("bigint")


def bpe_ish_token_count(text: Column | str) -> Column:
    """Count of word-piece-ish tokens (regexp-based BPE stand-in)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_RE), F.lit(0))).cast("bigint")


# ---------------------------------------------------------------------------
# Quality scoring (deterministic, SQL-expressible)
# ---------------------------------------------------------------------------

EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be", "this",
]


def punct_ratio(text: Column | str) -> Column:
    """punctuation chars / total chars (0 for empty)."""
    text = F.col(text) if isinstance(text, str) else text
    total = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[\sA-Za-z0-9]", ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(punct / total)


def stopword_ratio(text: Column | str) -> Column:
    """``EN_STOPWORDS`` tokens / tokens (0 for empty). Case-insensitive."""
    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    hits = F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(hits / n)


def mean_token_length(text: Column | str) -> Column:
    toks = tokens(text)
    n = F.size(toks)
    total = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t).cast("bigint")
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(total / n)


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic:

      0.4 * min(token_count, 200)/200         (length credit)
    + 0.3 * stopword_ratio clipped to [0, .5]/.5  (natural-language-ness)
    + 0.3 * (1 - min(punct_ratio, .5)/.5)     (not punctuation soup)
    """
    tc = token_count(text).cast("double")
    length_term = F.least(tc, F.lit(200.0)) / 200.0
    sw_term = F.least(stopword_ratio(text), F.lit(0.5)) / 0.5
    punct_term = 1.0 - F.least(punct_ratio(text), F.lit(0.5)) / 0.5
    return 0.4 * length_term + 0.3 * sw_term + 0.3 * punct_term


#: Gopher quality-rule thresholds (Rae et al. 2021, arXiv 2112.11446,
#: Appendix A — public). MIN_WORDS is the paper's 50; the other bounds are
#: the published ones except where noted.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MIN_STOPWORD_HITS = 2
GOPHER_MIN_DISTINCT_RATIO = 0.2


def gopher_rules(text: Column | str) -> dict[str, Column]:
    """Gopher-style document quality rules -> {rule_name: boolean Column}.

    Every rule is a pure per-row expression (one codegen stage, no
    shuffle): each division happens exactly once on exact integer
    operands, so the IEEE result — and therefore every boolean — is
    bit-reproducible across engines, which is what lets the DuckDB
    oracle compare rule COUNTS exactly with no float rounding at all.

    Rules (pass = True):
      word_count     GOPHER_MIN_WORDS <= n_words <= GOPHER_MAX_WORDS
      mean_word_len  mean word length in [3, 10]
      symbol_ratio   punctuation chars / chars <= 0.1
      alpha_words    >= 80% of words contain an ASCII letter
      stopwords      >= 2 distinct common stopwords present
      repetition     distinct words / words >= 0.2
    """
    text = F.col(text) if isinstance(text, str) else text
    toks_l = tokens(F.lower(text))
    n = F.size(toks_l)
    alpha_hits = F.size(F.filter(toks_l, lambda t: t.rlike("[a-z]")))
    alpha_frac = F.when(n == 0, F.lit(0.0)).otherwise(alpha_hits / n)
    sw_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks_l), F.array(*[F.lit(w) for w in EN_STOPWORDS])
        )
    )
    return {
        "word_count": (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS),
        "mean_word_len": (mean_token_length(text) >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_token_length(text) <= GOPHER_MAX_MEAN_WORD_LEN),
        "symbol_ratio": punct_ratio(text) <= GOPHER_MAX_SYMBOL_RATIO,
        "alpha_words": alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC,
        "stopwords": sw_hits >= GOPHER_MIN_STOPWORD_HITS,
        "repetition": distinct_token_ratio(text) >= GOPHER_MIN_DISTINCT_RATIO,
    }


def distinct_token_ratio(text: Column | str) -> Column:
    """distinct tokens / tokens (1.0 for empty) — the within-document
    repetition signal: heavily templated/looping text scores low.
    Per-row expression, no shuffle."""
    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    n = F.size(toks)
    return F.when(n == 0, F.lit(1.0)).otherwise(
        F.size(F.array_distinct(toks)) / n
    )


# ---------------------------------------------------------------------------
# Language identification (stopword-profile heuristic)
# ---------------------------------------------------------------------------

#: Distinctive high-frequency function words per language. Deliberately small
#: and disjoint so the heuristic is explainable and SQL-portable.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "that", "it", "was", "with", "this"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas"],
    "es": ["el", "los", "las", "y", "es", "una", "en", "que", "por", "como"],
    "zh": [],  # no-space scripts are handled by the CJK character check below
}


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword hit counts over lowercase whitespace tokens."""
    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    out: dict[str, Column] = {}
    for lang, words in LANG_PROFILES.items():
        if words:
            out[lang] = F.size(F.filter(toks, lambda t: t.isin(words))).cast("bigint")
    return out


def lang_id(text: Column | str) -> Column:
    """argmax language by stopword hits; CJK-character presence wins first;
    ties/zero-hits -> 'und'. Tie-break: fixed language order en>de>fr>es."""
    text_col = F.col(text) if isinstance(text, str) else text
    scores = lang_scores(text_col)
    ordered = ["en", "de", "fr", "es"]
    best = F.greatest(*[scores[lang] for lang in ordered])
    result = F.when(
        F.length(F.regexp_replace(text_col, r"[^一-鿿]", "")) > 0, F.lit("zh")
    ).when(best <= 0, F.lit("und"))
    for lang in ordered:
        result = result.when(scores[lang] == best, F.lit(lang))
    return result.otherwise(F.lit("und"))


# ---------------------------------------------------------------------------
# Fingerprinting
# ---------------------------------------------------------------------------


def normalized_text(text: Column | str) -> Column:
    """Canonical form: lowercase, collapse whitespace runs, trim."""
    text = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def fingerprint(text: Column | str) -> Column:
    """Deterministic 128-bit content fingerprint: md5 of the normalized text.
    (md5 is engine-portable — identical in Spark and DuckDB — unlike
    xxhash64/hash whose seeds differ per engine.)"""
    return F.md5(normalized_text(text))


def _once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` once per row and hand it to ``fn`` as a cheap
    lambda variable.

    Any non-trivial expression captured inside a higher-order-function
    lambda is RE-EVALUATED per array element: Spark inlines the captured
    expression tree into the lambda body, and HOF lambdas run interpreted
    (outside whole-stage codegen) with no common-subexpression elimination.
    That turns O(n) sliding-window constructions into O(n^2) per row —
    observed 98s -> 1s on 500 docs for the winnowing sketch. ``transform``
    evaluates its array argument exactly once per row, so wrapping the
    expensive expression as a single-element array and consuming it as the
    lambda variable makes every downstream reference a bound-variable
    lookup."""
    return F.transform(F.array(expr), fn).getItem(0)


def char_gram_hashes(text: Column | str, k: int = 8) -> Column:
    """Rolling character-k-gram hashes as array<bigint>: one 32-bit hash
    per position of a k-char sliding window over the normalized text
    (docs shorter than k chars yield a single whole-doc gram).

    The hash of each gram is the first 8 hex chars of its md5 — positionally
    this IS a rolling hash (one hash per window shift); it just recomputes
    per gram instead of Rabin-Karp O(1) updates, which keeps it a pure
    Column expression (JVM-side, no UDF) and engine-portable so the
    DuckDB oracle replays it exactly. Cost is O(n·k) per doc vs O(n) —
    irrelevant next to the scan, and embarrassingly parallel. The
    normalized text is hoisted via ``_once`` so the regex normalization
    runs once per row, not once per gram."""

    def grams(nm: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(nm) - (k - 1), F.lit(1))),
            lambda i: F.conv(
                F.substring(F.md5(nm.substr(i, F.lit(k))), 1, 8), 16, 10
            ).cast("bigint"),
        )

    return _once(normalized_text(text), grams)


def winnowing_sketch(text: Column | str, k: int = 8, w: int = 4) -> Column:
    """Winnowing document sketch (the MOSS scheme): distinct minima of every
    ``w``-length window over the rolling k-gram hashes, as array<bigint>.

    Guarantees: any shared substring of length >= k + w - 1 between two
    documents contributes at least one common sketch hash, so sketch
    overlap is a sound local-similarity signal at ~1/w the gram count.
    The whole sketch is one per-row expression — no shuffle; near-dup
    candidate generation then inverted-index-joins on sketch hashes
    exactly like word-shingle LSH but with positional (substring)
    sensitivity instead of bag-of-shingles. The gram-hash array is hoisted
    via ``_once`` so it's computed once per row, not once per window."""

    def winnow(h: Column) -> Column:
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(h) - (w - 1), F.lit(1))),
                lambda j: F.array_min(F.slice(h, j, w)),
            )
        )

    return _once(char_gram_hashes(text, k), winnow)


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-gram shingles as array<string> (for MinHash/Jaccard).

    Built from higher-order functions only: tokens -> transform over start
    positions -> slice -> array_join. Docs shorter than k words yield a
    single whole-doc shingle so every doc has at least one.
    """
    def grams(toks: Column) -> Column:
        n = F.size(toks)
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
                lambda i: F.array_join(F.slice(toks, i, k), " "),
            )
        )

    # Hoisted via _once: a captured expression is re-evaluated per lambda
    # element (HOFs run interpreted, no CSE), turning tokenization into
    # O(n^2) regex work per doc — observed 19s -> 0.8s on the sf0.1
    # contamination scan.
    return _once(tokens(normalized_text(text)), grams)
