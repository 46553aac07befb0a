"""Feature-statistics operators: mutual information, WOE/IV, RFM.

Dataset-understanding math a feature/label pipeline runs before training:
how much one categorical column says about another (mutual information —
the drift/leak detector between a feature and a label or between two
pipeline stages), how a categorical feature separates a binary target
(weight of evidence / information value — the classical scorecard-feature
screen), and behavioral segmentation (RFM quartiles).

All three are pure DataFrame aggregation pipelines — count shuffles over
(x), (y), (x, y) keys plus bounded-cardinality post-processing — so they
run at corpus scale with one to two exchanges and no Python in the hot
path. Extends the reference's per-column DQ profiling (SURVEY.md §2.10)
to cross-column statistics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "mutual_information_pairs",
    "woe_iv",
    "rfm_segments",
    "poisson1_draw",
    "bootstrap_uniform",
    "poisson_bootstrap_mean",
]

#: additive smoothing on every ``woe_iv`` cell
WOE_SMOOTHING = 0.5
#: ``rfm_segments`` scores each dimension by quartile
RFM_TILES = 4
#: normal quantile of ``poisson_bootstrap_mean``'s 95% interval
CI_Z = 1.96


def _cat(c: str | Column) -> Column:
    # normalize category identity to a string and make NULL an explicit
    # category: window/groupBy treat NULL as a group, but any downstream
    # equi-join on the category (where NULL keys never match) would drop
    # it silently — the sentinel keeps the contract join-safe
    col = c if isinstance(c, Column) else F.col(c)
    return F.coalesce(col.cast("string"), F.lit("<NULL>"))


def mutual_information_pairs(
    df: DataFrame,
    pairs: Sequence[tuple[str, str | Column, str, str | Column]],
) -> DataFrame:
    """Mutual information for several (X, Y) column pairs in ONE scan of
    the source: each ``(x_name, x_col, y_name, y_col)`` pair yields a row
    (x_col, y_col, n, entropy_x, entropy_y, mi_nats, normalized_mi) —
    MI in nats, normalized MI ``mi / sqrt(h_x · h_y)`` (0 = independent,
    1 = bijective). NULL cells count as their own category (a NULL
    pattern that tracks the label IS signal — dropping it would hide a
    leak).

    The pair list is exploded inline (rows × n_pairs before the first
    shuffle — the price of the single scan and far cheaper than
    re-reading the corpus per pair); everything after the joint
    (pair, x, y) count is bounded by category cardinalities, with
    marginals derived from the joint so the source is never re-read.
    """
    if not pairs:
        raise ValueError("mutual_information_pairs: pairs must be non-empty")
    structs = [
        F.struct(
            F.lit(xn).alias("x_col"),
            F.lit(yn).alias("y_col"),
            _cat(xc).alias("__x"),
            _cat(yc).alias("__y"),
        )
        for xn, xc, yn, yc in pairs
    ]
    key = ["x_col", "y_col"]
    exploded = df.select(F.explode(F.array(*structs)).alias("p")).select(
        "p.*"
    )
    # marginals via windows over the joint table (bounded by category
    # cardinalities): nx = sum over (pair, x), ny = sum over (pair, y),
    # n = sum over pair. Zero joins and zero frame reuse, so the source
    # is scanned exactly once — deriving marginals by re-aggregating the
    # joint as separate frames re-derives the whole scan per reference
    # (measured 18 scans for 2 pairs).
    joint = exploded.groupBy(*key, "__x", "__y").agg(
        F.count(F.lit(1)).alias("nxy")
    )
    wp = Window.partitionBy(*key)
    wx = Window.partitionBy(*key, "__x")
    wy = Window.partitionBy(*key, "__y")
    t = (
        joint.withColumn("n", F.sum("nxy").over(wp))
        .withColumn("nx", F.sum("nxy").over(wx))
        .withColumn("ny", F.sum("nxy").over(wy))
    )
    nn = F.col("n").cast("double")
    px = F.col("nx") / nn
    py = F.col("ny") / nn
    pxy = F.col("nxy") / nn
    # Sigma_y nxy = nx, so Sigma_{x,y} pxy*ln(px) == Sigma_x px*ln(px):
    # the entropies fall out of the same per-row pass as the MI terms
    agg = t.groupBy(*key, "n").agg(
        F.sum(pxy * F.log(pxy / (px * py))).alias("mi"),
        (-F.sum(pxy * F.log(px))).alias("h_x"),
        (-F.sum(pxy * F.log(py))).alias("h_y"),
    )
    return agg.select(
        *key,
        F.col("n").cast("bigint").alias("n"),
        F.round("h_x", 6).alias("entropy_x"),
        F.round("h_y", 6).alias("entropy_y"),
        F.round("mi", 6).alias("mi_nats"),
        # a constant column has entropy 0 -> the ratio is 0/0; define
        # normalized MI as 0 there (a constant carries no information)
        # instead of surfacing NULL/NaN
        F.round(
            F.when(
                F.col("h_x") * F.col("h_y") > 0,
                F.col("mi") / F.sqrt(F.col("h_x") * F.col("h_y")),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("normalized_mi"),
    )


def woe_iv(
    df: DataFrame,
    feature_col: str,
    target: Column,
) -> DataFrame:
    """Weight of evidence + information value per feature category.

    ``woe = ln((events_i/events_tot) / (non_events_i/non_events_tot))``
    with additive ``WOE_SMOOTHING`` on every cell so an all-one-class
    category stays finite; ``iv_contrib = (event_share − non_event_share)
    · woe`` and the feature's total IV is ``SUM(iv_contrib)`` (< 0.02
    useless, > 0.5 suspiciously strong — the classical screen for a
    leaky feature). One count shuffle on the feature key; totals are a
    broadcast scalar.

    NULL handling: the feature column goes through the ``_cat`` sentinel
    (NULL is a real category and must survive downstream equi-joins);
    NULL targets are counted explicitly as ``n_null_target`` so the
    per-category counts reconcile (``n = n_event + n_non_event +
    n_null_target``) — WOE itself is computed over labeled rows only.
    """
    t = target.cast("int")
    per_cat = df.groupBy(_cat(feature_col).alias("category")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(t == 1, 1)).alias("n_event"),
        F.count(F.when(t == 0, 1)).alias("n_non_event"),
        F.count(F.when(t.isNull(), 1)).alias("n_null_target"),
    )
    tot = per_cat.agg(
        F.sum("n_event").alias("tot_event"),
        F.sum("n_non_event").alias("tot_non_event"),
        F.count(F.lit(1)).alias("n_cats"),
    )
    ev = (F.col("n_event") + WOE_SMOOTHING) / (
        F.col("tot_event") + WOE_SMOOTHING * F.col("n_cats")
    )
    ne = (F.col("n_non_event") + WOE_SMOOTHING) / (
        F.col("tot_non_event") + WOE_SMOOTHING * F.col("n_cats")
    )
    return (
        per_cat.crossJoin(F.broadcast(tot))
        .select(
            "category",
            "n",
            "n_event",
            "n_non_event",
            "n_null_target",
            F.round(F.log(ev / ne), 6).alias("woe"),
            F.round((ev - ne) * F.log(ev / ne), 6).alias("iv_contrib"),
        )
    )


def rfm_segments(
    orders: DataFrame,
    as_of: str,
    *,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """Per-customer RFM quartile scores: recency (days from last order to
    ``as_of``), frequency (order count), monetary (total spend), each
    ntile(4)-scored with 4 = best. The tie-break on the customer key makes
    every ntile assignment a total order — deterministic across engines.

    One groupBy(customer) shuffle builds the RFM base; the three ranking
    windows run over the already-aggregated per-customer table (one row
    per customer, unpartitioned windows — acceptable because ntile needs
    a global rank anyway; at 100 TB the base table is customers, not
    orders, and a 1e8-row sort is routine). Returns one row per customer:
    (custkey, recency_days, frequency, monetary, r, f, m, segment).
    """
    base = orders.groupBy(F.col(cust_col).alias("custkey")).agg(
        F.datediff(F.lit(as_of).cast("date"), F.max(date_col)).alias(
            "recency_days"
        ),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum(F.col(amount_col).cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("monetary"),
    )
    # recency: smaller = better -> DESC so ntile bucket 4 = most recent
    wr = Window.orderBy(F.desc("recency_days"), F.asc("custkey"))
    wf = Window.orderBy(F.asc("frequency"), F.asc("custkey"))
    wm = Window.orderBy(F.asc("monetary"), F.asc("custkey"))
    return (
        base.withColumn("r", F.ntile(RFM_TILES).over(wr))
        .withColumn("f", F.ntile(RFM_TILES).over(wf))
        .withColumn("m", F.ntile(RFM_TILES).over(wm))
        .withColumn(
            "segment",
            F.concat(
                F.lit("R"), F.col("r"), F.lit("F"), F.col("f"),
                F.lit("M"), F.col("m"),
            ),
        )
    )


#: inverse CDF of Poisson(1) at 16-bit-ish resolution: cumulative
#: probabilities for k = 0..6; u above the last threshold draws 7. The
#: constants are fixed literals so Spark and a SQL oracle CASE chain
#: produce the identical draw from the identical uniform.
_POISSON1_CDF = (
    (0.36787944117144233, 0),
    (0.7357588823428847, 1),
    (0.9196986029286058, 2),
    (0.9810118431238462, 3),
    (0.9963401531726563, 4),
    (0.9994058151824183, 5),
    (0.9999167588507119, 6),
)


def poisson1_draw(u: Column) -> Column:
    """Poisson(1) variate from a uniform in [0, 1) via the fixed CDF
    table (capped at 7 — P[k > 7] < 1e-5, far below bootstrap noise)."""
    expr = F.lit(7)
    for cdf, k in reversed(_POISSON1_CDF):
        expr = F.when(u < F.lit(cdf), F.lit(k)).otherwise(expr)
    return expr


def bootstrap_uniform(key: Column, replicate: Column) -> Column:
    """Deterministic per-(row, replicate) uniform: the first 8 hex chars
    of md5('bs<r>:<key>') scaled to [0, 1). Portable — the oracle
    reproduces the identical draw with string concat + md5."""
    h = F.md5(
        F.concat(
            F.lit("bs"),
            replicate.cast("string"),
            F.lit(":"),
            key.cast("string"),
        )
    )
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / 4294967296.0


def poisson_bootstrap_mean(
    df: DataFrame,
    value: Column,
    key: Column,
    group_cols: Sequence[str] = (),
    n_replicates: int = 20,
) -> DataFrame:
    """Bootstrap standard error + normal-approx CI for a mean, the
    Poisson-bootstrap way (Chamandy et al., Google 2012): instead of R
    resampling passes, each row draws R independent Poisson(1) weights
    from md5 — replicate r's mean is sum(w·v)/sum(w) — so the WHOLE
    bootstrap is one scan, one explode (rows × R+1), one aggregation
    ladder, and is bit-reproducible on any cluster size.

    Replicate -1 carries weight 1 everywhere = the point estimate, so
    point and bootstrap replicates come out of the same pass. Returns
    per group: n_rows, point_mean, boot_se (stddev_pop of replicate
    means), ci_lo, ci_hi.
    """
    if n_replicates < 2:
        raise ValueError("poisson_bootstrap_mean: need >= 2 replicates")
    reps = F.array(*[F.lit(r) for r in range(-1, n_replicates)])
    exploded = df.select(
        *group_cols,
        value.alias("__v"),
        key.alias("__k"),
        F.explode(reps).alias("__r"),
    ).select(
        *group_cols,
        "__r",
        "__v",
        F.when(F.col("__r") == -1, F.lit(1))
        .otherwise(
            poisson1_draw(bootstrap_uniform(F.col("__k"), F.col("__r")))
        )
        .alias("__w"),
    )
    per_rep = exploded.groupBy(*group_cols, "__r").agg(
        F.sum(F.col("__w") * F.col("__v")).alias("__swv"),
        F.sum("__w").alias("__sw"),
        F.count(F.lit(1)).alias("__n"),
    )
    per_rep = per_rep.withColumn("__mean", F.col("__swv") / F.col("__sw"))
    point = F.max(F.when(F.col("__r") == -1, F.col("__mean")))
    boot_mean = F.avg(F.when(F.col("__r") >= 0, F.col("__mean")))
    boot_sq = F.avg(
        F.when(F.col("__r") >= 0, F.col("__mean") * F.col("__mean"))
    )
    out = per_rep.groupBy(*group_cols).agg(
        F.max(F.when(F.col("__r") == -1, F.col("__n"))).alias("n_rows"),
        point.alias("__point"),
        F.sqrt(boot_sq - boot_mean * boot_mean).alias("__se"),
    )
    return out.select(
        *group_cols,
        "n_rows",
        F.round("__point", 6).alias("point_mean"),
        F.round("__se", 6).alias("boot_se"),
        F.round(F.col("__point") - CI_Z * F.col("__se"), 6).alias("ci_lo"),
        F.round(F.col("__point") + CI_Z * F.col("__se"), 6).alias("ci_hi"),
    )
