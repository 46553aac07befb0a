"""Hashed-feature linear quality classifier (the fastText/CCNet slot).

Production LLM-data pipelines gate documents with a cheap linear
classifier over hashed bag-of-words features (fastText supervised, the
CCNet / GPT-3 "quality filter"): tokenize, hash each token into one of
``n_buckets`` feature buckets, average the bucket weights, squash with a
sigmoid, threshold. This module implements that scoring shape Spark-first:

* :func:`hashed_linear_score` — the whole model as ONE column expression:
  tokens -> md5 bucket -> in-expression weight -> ``F.aggregate`` mean ->
  sigmoid. Zero shuffle, zero UDF, zero join: scoring 100 TB is a pure
  map over the scan, the best possible plan for this operator. Weights
  are derived from ``md5('w1#' || bucket)`` — a *frozen pseudo-random
  model*, the same derandomization trick as the frozen LSH hyperplanes
  (operators/similarity.py), which is what lets a DuckDB oracle replay
  the classifier bit-for-bit.

* :func:`train_logistic_gd` trains a (bucket, weight) table over
  :func:`hashed_features`; :func:`score_features` (batch) and
  :func:`trained_score_expr` (the streaming tick's map-only form) score
  with it. The table is bounded by the bucket count (a model constant,
  never corpus-scaled), so broadcasting it is safe by construction.

Reference parity note: the reference repo has no ML-based scoring; this
extends the beyond-reference curation surface (operators/curation.py,
functions/text.py quality_score is the heuristic sibling).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions.literals import (
    array_literal,
    local_relation,
)
from autonomous_orchestrator_ai_spark.functions.text import normalized_text
from autonomous_orchestrator_ai_spark.routes import record_route

__all__ = [
    "token_bucket",
    "bucket_weight",
    "hashed_linear_score",
    "frozen_weight_table",
    "hashed_features",
    "train_logistic_gd",
    "score_features",
]

#: default feature-space size; 2^18 is fastText's default hash-bucket count.
N_BUCKETS = 1 << 18

#: weight grain: weights are integer/1000 in [-1, 1] — both engines derive
#: the identical IEEE double from the same integer (one exact division),
#: so scores agree to the last ulp before any rounding.
_WEIGHT_STEPS = 2001


def token_bucket(tok: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Feature bucket of a token: first 32 bits of md5, mod n_buckets.
    md5 (not xxhash64) keeps the bucketing engine-portable for oracles."""
    return (
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")
        % F.lit(n_buckets)
    )


def bucket_weight(bucket: Column) -> Column:
    """Frozen pseudo-weight of a feature bucket, uniform on the +/-1 grid.

    Derived from md5 of the bucket id salted ``w1`` — a deterministic
    function, not state: every executor, every engine, every run agrees
    without shipping a table. Trained weights score through
    :func:`trained_score_expr`; the scoring algebra is identical.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("w1#"), bucket.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return ((h % _WEIGHT_STEPS) - (_WEIGHT_STEPS - 1) / 2).cast("double") / (
        (_WEIGHT_STEPS - 1) / 2
    )


def hashed_linear_score(text: Column | str) -> Column:
    """Classifier probability as a single column expression.

    logit = 0 + mean over tokens of weight(bucket(token)) over
    ``N_BUCKETS`` buckets; score = sigmoid(logit). ``F.aggregate`` folds
    over the token array row-locally — the whole classifier runs inside
    whole-stage codegen with no exchange. NULL text scores 0.5; empty
    text tokenizes (like everywhere in this engine) to a single '' token.
    """
    toks = F.split(normalized_text(text), " ")
    n = F.size(toks)
    total = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc + bucket_weight(token_bucket(t, N_BUCKETS)),
    )
    # the frozen model's bias: 0
    logit = F.lit(0.0) + F.when(n > 0, total / n).otherwise(F.lit(0.0))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))


def frozen_weight_table(spark: SparkSession, n_buckets: int = N_BUCKETS) -> DataFrame:
    """The frozen model materialized as (bucket, weight) — what a trained
    fastText model would be loaded as. Generated distributed via range()
    (no driver-side list of n_buckets rows)."""
    b = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    return b.select("bucket", bucket_weight(F.col("bucket")).alias("weight"))


def trained_score_expr(text_col: str, weights: dict[int, float]) -> Column:
    """STATELESS per-row trained-classifier score over ``TRAIN_BUCKETS``
    buckets — the streaming form of an explode + broadcast-join + groupBy
    table scorer (r7, VERDICT r6 item 8).

    The trained weight table is a bounded MODEL CONSTANT (<= TRAIN_BUCKETS
    rows), so instead of explode + broadcast-join + groupBy (an
    aggregation a streaming plan would need update/complete mode and
    per-doc state for), the whole model becomes two array literals in the
    plan and the score is one higher-order fold over the row's own token
    array: map-only, zero shuffle, zero state — it drops into the same
    bounded-stream tick the DQ flags ride (append mode, watermark
    untouched). Batch plans can use it too when the per-doc token list is
    short enough that the fold beats the exploded join.

    Each literal is ONE parsed SQL expression
    (:func:`functions.literals.array_literal`), so building the Column
    costs the same few hundred py4j commands whatever the model size;
    ``F.lit(list)`` would cost ~37k for a TRAIN_BUCKETS-sized model, paid
    on every tick.

    Numerics: the fold sums token weights in ARRAY order while the
    grouped form sums partial aggregates in partition order, so the two
    agree to float-summation noise (~1e-12 relative), not bitwise —
    asserted in tests/test_classify.py. Tokens whose bucket is
    absent from ``weights`` contribute 0.0 (untrained bucket), exactly
    like the table form's left join.
    """
    items = sorted(weights.items())
    wmap = F.map_from_arrays(
        array_literal([b for b, _ in items], "bigint"),
        array_literal([w for _, w in items], "double"),
    )
    toks = F.split(normalized_text(text_col), " ")
    n = F.size(toks)
    total = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.coalesce(
            F.element_at(wmap, token_bucket(t, TRAIN_BUCKETS)), F.lit(0.0)
        ),
    )
    # bias: 0
    logit = F.lit(0.0) + F.when(n > 0, total / n).otherwise(F.lit(0.0))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))


def weight_table_as_dict(weights: DataFrame) -> dict[int, float]:
    """Collect a (bucket, weight) model table to the dict
    :func:`trained_score_expr` embeds — a bounded control-plane read
    (<= TRAIN_BUCKETS + sentinel rows), same class as the IVF codebook."""
    return {int(r["bucket"]): float(r["weight"]) for r in weights.collect()}


# ---------------------------------------------------------------------------
# Distributed training (full-batch logistic-regression gradient descent)
# ---------------------------------------------------------------------------

#: feature-space size for TRAINING queries. Much smaller than the scoring
#: default: the weight table must stay a broadcastable model constant, and
#: the DuckDB oracle replays every GD round as a chained CTE, so the bucket
#: count is a pinned hyperparameter, not a corpus-scaled quantity.
TRAIN_BUCKETS = 4096

#: sentinel bucket id carrying the intercept (bias) term. Real buckets are
#: non-negative (md5 % n_buckets), so -1 can never collide.
INTERCEPT_BUCKET = -1

#: per-round weight quantum. Both engines snap weights to this decimal grid
#: after every round, so cross-engine float noise (summation order, last-ulp
#: exp differences ~1e-15) cannot COMPOUND across rounds — each round starts
#: from bit-identical weights. The same trick makes the NumPy parity test
#: exact rather than tolerance-based.
WEIGHT_DECIMALS = 9

#: stop ``train_logistic_gd`` at a snapped fixed point (bit-identical to
#: running every round; tests turn it off to compare against that).
GD_EARLY_STOP = True


def _structural_features(text_col: str):
    """The CCNet/Gopher-style structural signals, scaled to ~[0, 1] so GD
    conditioning is sane, keyed by sentinel bucket id. Every value is at
    most two IEEE ops on exact integer operands — engine-portable."""
    from autonomous_orchestrator_ai_spark.functions.text import (
        EN_STOPWORDS,
        distinct_token_ratio,
        mean_token_length,
        punct_ratio,
        token_count,
        tokens,
    )

    toks_l = tokens(F.lower(F.col(text_col)))
    n = F.size(toks_l)
    alpha_frac = F.when(n == 0, F.lit(0.0)).otherwise(
        F.size(F.filter(toks_l, lambda t: t.rlike("[a-z]"))) / n
    )
    sw_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks_l),
            F.array(*[F.lit(w) for w in EN_STOPWORDS]),
        )
    )
    return {
        -2: token_count(text_col).cast("double") / 100.0,
        -3: mean_token_length(text_col) / 10.0,
        -4: punct_ratio(text_col),
        -5: sw_hits.cast("double") / 10.0,
        -6: distinct_token_ratio(text_col),
        -7: alpha_frac,
    }


def hashed_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Design matrix for the quality classifier: (id, bucket, x).

    Two feature families per document:

    * hashed bag-of-words, mean-pooled: x[doc, b] = (# tokens hashing to
      bucket b of ``TRAIN_BUCKETS``) / n_tokens — the fastText feature.
      Tokenization matches
      :func:`hashed_linear_score` exactly (normalized text split on single
      spaces), so a model trained here scores identically through
      :func:`trained_score_expr`.
    * structural signals at sentinel buckets (< -1): token count / 100,
      mean word length / 10, punctuation ratio, distinct-stopword hits /
      10, distinct-token ratio, alpha-word fraction — the CCNet-style
      quality features. Mean-pooled BoW alone cannot carry these (its mass
      always sums to 1, erasing length), and quality gates are largely
      threshold functions OF these, so without them the model is blind to
      its own target.

    Plus one intercept row (bucket = -1, x = 1.0) so the bias trains
    through the same algebra as every other weight.

    One scan + one (id, bucket) aggregation; output is linear in corpus
    size. At 100 TB persist this bucketed by id so every GD round's
    residual join reuses the layout (see train_logistic_gd).
    """
    toks = docs.select(
        id_col, F.split(normalized_text(text_col), " ").alias("_toks")
    ).select(
        id_col,
        F.explode("_toks").alias("_tok"),
        F.size("_toks").alias("_n_tok"),
    )
    feats = toks.groupBy(
        id_col, token_bucket(F.col("_tok"), TRAIN_BUCKETS).alias("bucket")
    ).agg((F.count(F.lit(1)).cast("double") / F.min("_n_tok")).alias("x"))
    structural = {INTERCEPT_BUCKET: F.lit(1.0)}
    structural.update(_structural_features(text_col))
    extra = docs.select(
        id_col,
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(b).cast("bigint") for b in structural]),
                F.array(
                    *[F.coalesce(v, F.lit(0.0)) for v in structural.values()]
                ),
            )
        ).alias("bucket", "x"),
    )
    return feats.unionByName(extra)


def train_logistic_gd(
    feats: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    rounds: int = 5,
    lr: float = 1.0,
) -> DataFrame:
    """Full-batch logistic-regression GD over sparse hashed features.

    Returns the trained (bucket, weight) table — the model that
    :func:`trained_score_expr` and :func:`score_features` consume.
    ``labels`` is (id, y) with y in {0.0, 1.0} (e.g. an exact rule gate
    like the Gopher all-pass — a deterministic proxy label any engine can
    recompute).

    Fixed-iteration structure (the pagerank/k-core unroll pattern): every
    round is

      1. logits:   join feats with the BROADCAST weight table on bucket,
                   groupBy(id) sum(x * w)            -> shuffle of doc ids
      2. residual: sigmoid(logit) - y                 (map-only)
      3. gradient: join feats with residuals on id,
                   groupBy(bucket) sum(x * r) / n     -> shuffle of buckets
      4. update:   w <- round(w - lr * grad, 9); the updated table — a
                   MODEL CONSTANT bounded by n_buckets rows — round-trips
                   through the driver (collect + createDataFrame) and is
                   rebroadcast next round as a LocalTableScan, so each
                   round is exactly one Spark action.

    Per-round distributed cost: one shuffle keyed by id (|feats| rows of
    (id, x*w) partial sums — map-side combined to |docs| rows) and one
    keyed by bucket (map-side combined to <= n_buckets rows per task). The
    residual join is the only join of two corpus-scaled tables; persisting
    ``feats`` pre-partitioned on id lets AQE reuse that exchange every
    round so only the (id, r) side — |docs| rows — moves. Weights start at
    0 for every OBSERVED bucket (untouched buckets stay implicitly 0,
    matching fastText's zero-initialized rows).

    Weights snap to the 1e-9 decimal grid after each round in BOTH engines
    (see WEIGHT_DECIMALS) so the chained-CTE DuckDB oracle stays hash-exact
    despite floating-point summation-order differences. The snap makes
    cross-engine divergence extremely UNLIKELY, not impossible: a raw
    weight landing within float-summation noise of a 0.5e-9 grid midpoint
    can legitimately round differently per engine (the prime-n_docs note
    in the parity test acknowledges exactly this) — if an oracle flake
    ever appears at a new scale, suspect a midpoint hit before suspecting
    the plan.

    ``GD_EARLY_STOP`` (on; tests turn it off for the reference) breaks
    out of the round loop at a SNAPPED FIXED POINT — when a round's
    post-snap weight table equals the table it started from. This is not
    an approximation: each round is a deterministic function w' = f(w)
    of the incoming table alone (the data and lr are constant across
    rounds), so f(w) == w means every remaining round would recompute
    exactly w — the early exit is
    BIT-IDENTICAL to running all ``rounds`` rounds, and the unrolled
    DuckDB oracle (which always computes the full chain) agrees for the
    same reason: its tail rounds are the same no-ops in its own
    arithmetic. This matters at the fourth octave: the sf1000 probe
    (PERF.md round 9) showed per-round cost goes disk-read-bound once
    the feature table exceeds the storage pool, and round count is the
    only linear multiplier of that penalty — tail rounds whose deltas
    fall below the 1e-9 grid are pure waste. The comparison is a
    driver-side dict equality over the already-collected model constant:
    zero extra Spark work. The number of gradient rounds actually run is
    the ``logistic_gd_rounds`` route record.
    """
    spark = feats.sparkSession
    # Narrow the persisted design matrix (r10, guide §2.3/§5 — the sf1000
    # probe showed the cached feats⋈labels overflowing the storage pool,
    # after which all 24 rounds re-read the disk tier twice per round, so
    # every cached byte is paid ~48x): `bucket` fits an int (2^18 hash
    # buckets + small negative sentinels), `y` is {0.0, 1.0} so a float
    # round-trips to double EXACTLY — both logit and gradient arithmetic
    # stay bit-identical (x and all products remain double; int->bigint
    # and float->double widenings are exact). ~25% fewer cached bytes per
    # row before columnar encoding.
    fl = feats.join(labels, id_col).select(
        F.col(id_col),
        F.col("bucket").cast("int").alias("bucket"),
        F.col("x"),
        F.col("y").cast("float").alias("y"),
    )
    fl = fl.persist()
    n_docs = float(fl.select(id_col).distinct().count())  # 1-value read
    # The weight table is a MODEL CONSTANT (<= n_buckets + sentinels rows),
    # so it round-trips through the driver between rounds — the same
    # bounded-control-plane pattern as the IVF codebook. Each round
    # rebuilds it as a JVM LocalRelation (`local_relation`), which starts
    # no Python worker, in place of the checkpoint/broadcast jobs of the
    # join-chained form whose fixed cost dominated at small-to-mid scale
    # (143 s -> ~40 s for 24 rounds at sf0.1). A round still runs several
    # jobs (133 for 24 rounds at sf0.01; see the CHANGES.md FOUND line on
    # `train_logistic_gd`), not one collect. ALL
    # arithmetic — including the 1e-9 grid snap — stays in Spark
    # expressions, so results are bit-identical to the join-chained form
    # and to the DuckDB oracle.
    schema = "bucket bigint, weight double"
    w_rows = [
        (r["bucket"], 0.0)
        for r in feats.select("bucket").distinct().collect()
    ]
    rounds_run = 0
    for rounds_run in range(1, rounds + 1):
        w = local_relation(spark, w_rows, schema)
        resid = (
            fl.join(F.broadcast(w), "bucket")
            .groupBy(id_col)
            .agg(
                F.sum(F.col("x") * F.col("weight")).alias("logit"),
                F.min("y").alias("y"),
            )
            .select(
                id_col,
                (
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit")))
                    - F.col("y")
                ).alias("r"),
            )
        )
        grad = (
            fl.join(resid, id_col)
            .groupBy("bucket")
            .agg((F.sum(F.col("x") * F.col("r")) / F.lit(n_docs)).alias("g"))
        )
        new_w = grad.join(F.broadcast(w), "bucket").select(
            "bucket",
            F.round(
                F.col("weight") - F.lit(float(lr)) * F.col("g"),
                WEIGHT_DECIMALS,
            ).alias("weight"),
        )
        new_rows = [(r["bucket"], r["weight"]) for r in new_w.collect()]
        # snapped fixed point: identical incoming and outgoing tables mean
        # every remaining round recomputes exactly this table (w' = f(w)
        # depends on nothing that changes between rounds), so breaking is
        # bit-identical to finishing the loop
        converged = GD_EARLY_STOP and dict(new_rows) == dict(w_rows)
        w_rows = new_rows
        if converged:
            break
    record_route(
        "logistic_gd_rounds",
        inputs={"early_stop": GD_EARLY_STOP},
        estimate=None,
        budget=rounds,
        chosen=rounds_run,
    )
    fl.unpersist()
    return local_relation(spark, w_rows, schema)


def score_features(
    feats: DataFrame, weights: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, score) from a design matrix and a trained weight table.

    sum-pooling over the feature values (the intercept row carries the
    bias), sigmoid-squashed — the exact function the trainer optimized.
    The weight table is broadcast (bounded by n_buckets by construction).
    """
    logit = F.sum(F.col("x") * F.col("weight"))
    return (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("score")
        )
    )
