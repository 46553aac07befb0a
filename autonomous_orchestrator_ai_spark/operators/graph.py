"""Distributed graph operators: connected components over an edge list.

The corpus-dedup pipeline ends with this step: near-dup PAIRS (from
MinHash-LSH / n-gram Jaccard / winnowing) are edges of an undirected
graph; each connected component is one duplicate CLUSTER, and dedup keeps
one representative per cluster. The reference repo has no graph surface
at all — this is part of the beyond-reference training-data toolkit
(SURVEY.md §2 "beyond" scope), expressed entirely in DataFrame ops.

Algorithm: hybrid. Iterative min-label propagation first — every node
starts labeled with its own id; each round every node takes the min
label among itself and its neighbors; fixpoint = every node labeled with
the smallest reachable node id (the canonical component id). Rounds
needed = graph diameter, which for near-dup clusters is tiny (dup
clusters are dense — typically 2-4 hops), and per-round cost is one
shuffle join + one shuffle agg on the EDGE list only. If propagation
hasn't converged after ``CC_SWITCH_AFTER`` rounds, the graph has an
adversarially long diameter (chains) and ``connected_components``
contracts the edges through the labels computed so far and finishes
with alternating large-star/small-star contraction
(``connected_components_star``; Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14) which converges in O(log^2 n) rounds
independent of diameter.

Scale notes (100 TB story):
- State per round is (node, label) — two bigints — plus the symmetrized
  edge list; both shuffle-partitioned by key. Nothing is ever collected
  to the driver except the single-row convergence check.
- ``localCheckpoint`` after every round truncates the lineage; without it
  the plan doubles per iteration and Catalyst analysis time explodes.
- The convergence check is a ``limit(1).count()`` on the changed-rows
  frame — it short-circuits: Spark stops scanning as soon as one changed
  row is found, so converged rounds pay a near-free probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "connected_components",
    "connected_components_star",
    "dedup_clusters",
    "dedup_survivors",
    "pagerank",
    "triangle_stats",
]

#: Rounds of label propagation before ``connected_components`` switches to
#: star contraction, and the round cap of either loop.
CC_SWITCH_AFTER = 8
CC_MAX_ITERATIONS = 50
#: Node count up to which the per-round state of ``connected_components``
#: and ``pagerank`` is broadcast instead of shuffled.
BROADCAST_STATE_MAX_NODES = 5_000_000
PAGERANK_DAMPING = 0.85


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component
    is the smallest node id in that node's connected component.

    Node ids must be orderable (the component id is their min); any
    numeric/string type works. Nodes with no edges don't appear — callers
    wanting singleton components coalesce missing nodes to themselves
    (see ``dedup_survivors``).

    Hybrid strategy: min-label propagation (one shuffle join + one
    shuffle agg per round, converges in diameter rounds — the cheap path
    for dense small-diameter dup clusters), auto-switching to
    alternating star contraction (O(log^2 n) rounds,
    ``connected_components_star``) if propagation hasn't converged after
    ``CC_SWITCH_AFTER`` rounds — the adversarial-diameter escape hatch for
    chain-shaped graphs. The switch CONTRACTS the graph through the
    labels already computed (edges mapped label->label, self-loops
    dropped), so propagation work is kept, not thrown away: after k
    rounds every label is the min within k hops, so the contracted graph
    has at most diameter/k the original diameter and typically far fewer
    nodes.
    """
    # symmetrize once; propagation then only needs one join direction.
    # Both orientations come out of ONE explode instead of a self-union:
    # the union form evaluates the upstream edge plan twice inside the
    # checkpoint job, and for the near-dup callers that upstream is the
    # expensive part (the n-gram inverted-index self-join measured
    # ~1.3 s per evaluation at sf0.1 — r9).
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src).alias("s"), F.col(dst).alias("d")
                    ),
                    F.struct(
                        F.col(dst).alias("s"), F.col(src).alias("d")
                    ),
                )
            ).alias("__e")
        )
        .select(F.col("__e.s").alias("s"), F.col("__e.d").alias("d"))
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint()
    )
    # Round 1 fused into label init (r9): with labels initialized to
    # self, round 1's fold is exactly min(self, min(neighbors)) — one
    # groupBy over the symmetric edge list. Materializing the identity
    # labelling first (a distinct + checkpoint job) and then running the
    # round + its convergence probe spent three cluster round-trips on a
    # state this single aggregation produces; and when sym is non-empty,
    # round 1 always changes at least one label (any edge (a, b) with
    # a < b lowers b), so the old round-1 probe could never report
    # convergence — skipping it is behavior-identical.
    labels = (
        sym.groupBy("s")
        .agg(F.least(F.col("s"), F.min("d")).alias("component"))
        .withColumnRenamed("s", "node")
        .localCheckpoint()
    )

    prop_rounds = min(CC_SWITCH_AFTER, CC_MAX_ITERATIONS)
    # Broadcast the per-round state when it's provably small (the
    # pagerank BROADCAST_STATE_MAX_NODES pattern): the label table is
    # (node, component) — 16 B/node — and counting the just-checkpointed
    # frame is one cheap local scan. Below the threshold every round's
    # two state joins (neighbor pull, own-label fold) and the
    # pointer-jump lookup become broadcast hash joins, so the only
    # exchange left per round is the map-combined neighbor-min groupBy —
    # the symmetric edge list is never re-shuffled. Above the threshold
    # (billion-node dup graphs) the shuffle joins stay.
    small_state = labels.count() <= BROADCAST_STATE_MAX_NODES
    hint = F.broadcast if small_state else (lambda df: df)
    converged = labels.isEmpty() if prop_rounds < 2 else False
    for rnd in range(1, prop_rounds):
        # each node pulls its neighbors' current labels, keeps the min of
        # (own label, neighbor labels) — one shuffle join + one shuffle
        # agg. The old-vs-new comparison rides along as an in-plan flag
        # (min-propagation is monotone decreasing, so "changed" is
        # exactly "new < old"): the convergence probe then scans the
        # just-checkpointed frame instead of shuffle-joining the new and
        # old label tables — one cluster round-trip per round, not two
        # (r9; the CC consumers are latency-bound on tiny per-round
        # jobs, not throughput-bound).
        neighbor_min = (
            sym.join(hint(labels), sym["d"] == labels["node"])
            .select(sym["s"].alias("node"), "component")
            .groupBy("node")
            .agg(F.min("component").alias("__nmin"))
        )
        folded = hint(labels).join(neighbor_min, "node").select(
            "node",
            F.least(F.col("component"), F.col("__nmin")).alias("component"),
            (F.col("__nmin") < F.col("component")).alias("__changed"),
        )
        if rnd >= 2:
            # pointer-jump (path shortcut, r9): label <- label(label). A
            # label value is itself a node id reachable from the
            # labelled node, so composing through it preserves the
            # invariant (component(v) stays a reachable id, monotone
            # decreasing) while compounding the propagation radius —
            # reach r becomes ~2r+1 per round instead of r+1, so
            # chain-shaped graphs converge in O(log diameter) rounds
            # instead of O(diameter). Measured at sf0.1 the n-gram
            # near-dup graph burned the whole CC_SWITCH_AFTER budget on
            # plain rounds (~16 sequential jobs) and THEN ran ~10 star
            # rounds; with the jump it converges inside the propagation
            # budget. The jump only engages from round 3: dup-cluster
            # graphs (diameter 2-3, the common near-dup shape) have
            # already converged by then and never pay the extra
            # (node, label) shuffle, while long chains — the only
            # graphs still alive here — get the exponential collapse.
            # The fixpoint is unchanged either way (at fixpoint the
            # neighbor-min condition alone forces labels constant per
            # component), so results are identical.
            jump_to = folded.select(
                F.col("node").alias("component"),
                F.col("component").alias("__jc"),
            )
            # the round's change flag composes exactly: the final label
            # differs from the incoming one iff the fold lowered it
            # (__changed) or the jump rerouted it (__jc present and
            # different — jumps are monotone decreasing too).
            folded = folded.join(hint(jump_to), "component", "left").select(
                "node",
                F.coalesce("__jc", F.col("component")).alias("component"),
                (
                    F.col("__changed")
                    | (F.coalesce("__jc", F.col("component")) != F.col("component"))
                ).alias("__changed"),
            )
        new_labels = folded.localCheckpoint()
        changed = new_labels.filter("__changed").limit(1).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            converged = True
            break
    if converged:
        return labels

    # Propagation ran out of its round budget: the graph has a long
    # diameter (chains, adversarial inputs). Contract edges through the
    # current labels and finish with star contraction — components of the
    # contracted label graph compose with the label map to give the final
    # answer (label contraction is a quotient map: it preserves
    # connectivity and introduces none).
    contracted = (
        sym.join(hint(labels.withColumnRenamed("node", "s")), "s")
        .select(F.col("component").alias("ls"), "d")
        .join(
            hint(
                labels.select(
                    F.col("node").alias("d"), F.col("component").alias("ld")
                )
            ),
            "d",
        )
        .select("ls", "ld")
        .filter(F.col("ls") != F.col("ld"))
    )
    star = connected_components_star(
        contracted, "ls", "ld", max_iterations=CC_MAX_ITERATIONS
    )
    return (
        labels.join(
            star.withColumnRenamed("node", "component"), "component", "left"
        )
        .select(
            "node",
            F.coalesce(F.col("star_component"), F.col("component")).alias(
                "component"
            ),
        )
        .localCheckpoint()
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """(node, star_component) by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — converges in O(log^2 n) rounds regardless of
    graph diameter, vs O(diameter) for min-label propagation. Same
    contract as ``connected_components`` (component = min reachable id;
    isolated nodes absent) with the output column named
    ``star_component``.

    Per round, on the canonical (hi > lo) edge set E:

    - **large-star**: for every node u with full neighborhood Γ(u)
      (both orientations), m = min(Γ(u) ∪ {u}); replace each edge
      (v, u) with v > u by (v, m) — strictly-larger neighbors re-hook
      to the neighborhood min.
    - **small-star**: orient edges child=hi -> parent=lo; per child u,
      m = min of its parents; re-hook every parent (and u itself) to m.

    Both steps are one shuffle agg (the per-node min) + one shuffle join
    (re-hook) over the edge list only; nothing superlinear is ever
    materialized, and state per round is the edge set itself. Fixpoint =
    disjoint stars whose centers are the component minima. Convergence
    is detected exactly (count + set-difference probe on the canonical
    edge set, both over localCheckpoint'd frames), never via hashes.

    The number of rounds actually used is exposed for tests/telemetry as
    ``connected_components_star.last_iterations``.
    """
    canon = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
            F.least(F.col(src), F.col(dst)).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = canon.count()
    rounds = 0
    for _ in range(max_iterations):
        if n_edges == 0:
            break
        rounds += 1
        # large-star over the symmetrized neighborhood
        sym = canon.select(
            F.col("hi").alias("u"), F.col("lo").alias("v")
        ).union(canon.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("__mn", "u").alias("m"))
        )
        # large is NOT materialized (r10): its two consumers below (the
        # parent-min aggregation and the re-hook join) both need it
        # hash-partitioned on `hi`, so the physical plan computes the
        # large-star subtree ONCE and feeds the second consumer through a
        # ReusedExchange — one checkpoint round-trip per round instead of
        # two, with the small-star checkpoint still resetting lineage
        # every round. (The r9 alternative — persist instead of
        # checkpoint — stays a measured LOSS: a cached frame keeps its
        # pre-AQE partitioning, so tail rounds ran 32-task stages instead
        # of the checkpoint's coalesced 1-task jobs.)
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # small-star over child=hi -> parents=lo
        pmins = large.groupBy("hi").agg(F.min("lo").alias("m"))
        small = (
            large.join(pmins, "hi")
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .union(
                pmins.select(F.col("hi"), F.col("m").alias("lo"))
            )
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint()
        )
        new_n = small.count()
        if new_n == n_edges and small.subtract(canon).limit(1).count() == 0:
            canon = small
            break
        canon, n_edges = small, new_n
    connected_components_star.last_iterations = rounds
    # fixpoint stars: every edge is (member, center); centers themselves
    # are the nodes never appearing on the hi side
    return (
        canon.select(
            F.col("hi").alias("node"), F.col("lo").alias("star_component")
        )
        .union(
            canon.select(
                F.col("lo").alias("node"),
                F.col("lo").alias("star_component"),
            ).distinct()
        )
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list -> (node, rank).

    Power iteration expressed as DataFrame ops: per round, one shuffle
    join (edge src -> current rank) + one shuffle agg (sum of neighbor
    contributions by dst), exactly the propagation shape of
    ``connected_components`` above. Dangling mass is handled the simple
    way — every node in the graph appears as a source here or keeps the
    teleport floor — which matches the standard per-node formulation
    ``r = (1-d)/N + d * sum(r_in/deg_in)``.

    Scale notes (100 TB story):
    - State per round is (node, rank, out_deg): three 8-byte values,
      hash-partitioned. The edge list is joined against but never
      rewritten; ``out_deg`` is computed once before the loop and rides on
      the RANK state (not on the edges) so the loop body never
      re-aggregates it and the setup never shuffles the edge list to
      staple degrees on (r9: the old e⋈deg materialization was one full
      edge-list shuffle + checkpoint that a 16-byte-per-node state column
      replaces outright).
    - Setup is exactly TWO passes over the edge list: the distinct+
      checkpoint, then ONE symmetric explode + groupBy that yields nodes
      and out-degrees together (the old union-distinct nodes pass and the
      separate groupBy(s) degree pass computed the same information in
      two shuffles).
    - ``localCheckpoint`` every 3 rounds truncates the
      lineage (plan growth is linear per round; analysis cost is the real
      enemy past ~10 uncheckpointed iterations).
    - Fixed iteration count (no convergence collect) keeps the whole run
      a deterministic, replayable plan — and makes the result exactly
      SQL-expressible by unrolling, which is how the DuckDB oracle
      verifies it.
    - N (node count) is one driver scalar from a count() — the only
      driver-side value in the operator.
    - The rank state is bounded by the node count, which the setup
      count() already measures. When ``n <= BROADCAST_STATE_MAX_NODES``
      the per-round joins broadcast the (node, rank) / (node, in_mass)
      sides instead of shuffling the (much larger) edge list every
      round: the loop body then touches the edges map-side only and the
      single shuffle per round is the map-combined groupBy(dst). Above
      the threshold (billion-node graphs where the (node, rank, out_deg)
      state at 24B/node no longer fits an executor) it falls back to the
      plain shuffle join.
    """
    # checkpoint the (possibly expensive) edge derivation ONCE; nodes, deg
    # and the loop all build on the cached edge list instead of re-running
    # the upstream plan per consumer
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .localCheckpoint()
    )
    # nodes AND out-degrees from ONE symmetric explode + groupBy (r9):
    # every node appears (as a source with is_out=1, as a destination
    # with is_out=0), so sum(is_out) is exactly the old groupBy(s) count
    # with dangling nodes at 0 — one shuffle replaces the union-distinct
    # nodes pass and the degree pass, and the old e⋈deg checkpoint
    # disappears because out_deg rides on the rank state below.
    nd = (
        e.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("s").alias("node"),
                        F.lit(1).cast("bigint").alias("is_out"),
                    ),
                    F.struct(
                        F.col("d").alias("node"),
                        F.lit(0).cast("bigint").alias("is_out"),
                    ),
                )
            ).alias("__n")
        )
        .select(F.col("__n.node").alias("node"), F.col("__n.is_out").alias("is_out"))
        .groupBy("node")
        .agg(F.sum("is_out").alias("out_deg"))
        .localCheckpoint()
    )
    n = nd.count()
    if n == 0:
        return nd.select("node").withColumn("rank", F.lit(0.0))
    teleport = (1.0 - PAGERANK_DAMPING) / n
    small_state = n <= BROADCAST_STATE_MAX_NODES
    hint = F.broadcast if small_state else (lambda df: df)
    ranks = nd.withColumn("rank", F.lit(1.0 / n))
    for i in range(iterations):
        contrib = (
            e.join(hint(ranks), e["s"] == ranks["node"])
            .select("d", (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("d")
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = nd.join(
            hint(contrib), nd["node"] == contrib["d"], "left"
        ).select(
            "node",
            "out_deg",
            (
                F.lit(teleport)
                + F.lit(PAGERANK_DAMPING)
                * F.coalesce(F.col("in_mass"), F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % 3 == 0:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", "rank")


def dedup_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Duplicate clusters from near-dup pairs: (component, n_docs,
    doc_ids) — one row per connected component, members sorted. Every
    cluster has >= 2 members by construction (each node has an edge)."""
    cc = connected_components(pairs, src, dst)
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.array_join(F.sort_array(F.collect_list("node")), ",").alias("doc_ids"),
    )


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Rows of ``df`` surviving cluster-level dedup: per connected
    component of the near-dup graph, only the smallest id survives; rows
    with no near-dup edge survive as their own singleton cluster.

    The component labels frame is tiny relative to the corpus (only docs
    that HAVE a near-dup), so the label join broadcasts in practice and
    the corpus itself is never shuffled."""
    cc = connected_components(pairs, src, dst)
    return (
        df.join(cc, df[id_col] == cc["node"], "left")
        .filter(
            F.coalesce(F.col("component"), F.col(id_col)) == F.col(id_col)
        )
        .drop("node", "component")
    )


def quality_ranked_survivors(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Quality-aware cluster dedup: per connected component of the
    near-dup graph keep the row with the HIGHEST ``score_col`` (ties ->
    smallest id); rows without a near-dup edge survive untouched. This is
    the "keep the best copy" curation step production pipelines run after
    clustering — :func:`dedup_survivors` keeps the arbitrary smallest id,
    this variant keeps the copy a quality model prefers.

    Scale shape: the component-label frame only contains docs that HAVE a
    near-dup (tiny vs the corpus), so both joins broadcast it; only the
    in-cluster rows are shuffled for ranking, and each ranking partition
    is one cluster. The corpus at large never exchanges. ``score_col``
    should be pre-rounded by the caller if scores come from float math,
    so ranking never depends on last-ulp noise."""
    cc = connected_components(pairs, src, dst)
    in_cc = df.join(F.broadcast(cc), df[id_col] == cc["node"], "inner").drop("node")
    w = Window.partitionBy("component").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    winners = (
        in_cc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "component")
    )
    singles = df.join(F.broadcast(cc), df[id_col] == cc["node"], "left_anti")
    return singles.unionByName(winners)


def triangle_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact triangle count + global clustering coefficient of an
    undirected graph -> ONE-row DataFrame (n_nodes, n_edges, n_wedges,
    n_triangles, clustering).

    Uses the degree-ordered edge orientation (the classic O(m^1.5)
    triangle-listing bound, Schank & Wagner 2005 — public): every edge is
    directed from its lower-(degree, id) endpoint to the higher one, so a
    hub of degree D contributes out-edges only toward higher-ranked hubs
    and the wedge self-join fans out by out-degree (bounded by ~sqrt(m))
    instead of raw degree. Each triangle appears exactly once as
    u->v, v->w, u->w along the total (degree, id) order.

    All counting stays in DataFrame aggregates; the single row is formed
    by cross-joining 1-row aggregates, never collected driver-side.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .union(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient by (deg, node): a -> b iff (deg_a, a) < (deg_b, b)
    ed = (
        e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("deg", "db"), "b")
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint()
    wedge = (
        o.alias("e1")
        .join(o.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .select(
            F.col("e1.u").alias("u"),
            F.col("e1.v").alias("v"),
            F.col("e2.v").alias("w"),
        )
    )
    closing = o.select(F.col("u").alias("cu"), F.col("v").alias("cv"))
    tri = wedge.join(
        closing,
        (F.col("u") == F.col("cu")) & (F.col("w") == F.col("cv")),
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    counts = e.agg(
        F.count(F.lit(1)).alias("n_edges"),
    ).crossJoin(
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.coalesce(
                # Sum deg*(deg-1) in decimal(38,0) (hub-heavy graphs overflow
                # an int64 sum) and halve with exact integer arithmetic: the
                # operand is always even, so `DIV 2` on the decimal is exact —
                # no double division anywhere in the wedge count.
                F.expr(
                    "CAST(SUM(CAST(deg AS DECIMAL(38,0)) * (deg - 1)) DIV 2"
                    " AS DECIMAL(38,0))"
                ).cast("long"),
                F.lit(0),
            ).alias("n_wedges"),
        )
    )
    return counts.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(
            F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6)
        )
        .alias("clustering"),
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """The k-core subgraph: the maximal subgraph where every node has
    degree >= k, by iterative peeling (Seidman 1983; the distributed
    peel is Montresor et al.'s one-round-per-wave shape). Cohesion /
    spam-farm screen: a dense k-core in a co-occurrence graph is either
    a real community or a template artifact, and either way it's what
    near-dup clustering and PMI screens should be pointed at first.

    Returns the surviving UNDIRECTED edge list (one row per input edge
    that connects two surviving nodes). Input edges are deduped and
    self-loops dropped; degrees count distinct neighbors.

    Each wave is one degree aggregation (union of both endpoints, one
    shuffle) + two broadcast-able anti-joins removing the sub-k nodes
    — per-wave cost is O(|remaining edges|), and the wave count is
    bounded by the peel depth, not the node count (each wave removes
    EVERY currently-sub-k node at once). State is lineage-checkpointed
    per wave like the other iterative operators, so the plan never
    accumulates across waves.
    """
    if k < 1:
        raise ValueError("k_core: k must be >= 1")
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s") != F.col("d"))
        .select(
            F.least("s", "d").alias("s"), F.greatest("s", "d").alias("d")
        )
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        deg = (
            e.select(F.col("s").alias("n"))
            .unionAll(e.select(F.col("d").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # materialize the weak set ONCE per wave (r9): the old
        # emptiness probe and the two anti-join branches each embedded
        # the full degree aggregation, so every wave re-shuffled the
        # edge list up to three times for one answer. Checkpointing
        # weak runs the aggregation exactly once; the probe reads the
        # cached blocks and both anti-joins broadcast the materialized
        # (tiny) node set.
        weak = (
            deg.filter(F.col("deg") < k).select("n").localCheckpoint()
        )
        if weak.limit(1).count() == 0:
            break
        e = (
            e.join(weak.withColumnRenamed("n", "s"), "s", "left_anti")
            .join(weak.withColumnRenamed("n", "d"), "d", "left_anti")
            .select("s", "d")
            .localCheckpoint()
        )
    return e.select(F.col("s").alias(src), F.col("d").alias(dst))
