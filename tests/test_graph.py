"""Connected-components / dedup-clustering operator tests."""

from __future__ import annotations

from autonomous_orchestrator_ai_spark.operators.graph import (
    connected_components,
    dedup_clusters,
    dedup_survivors,
)


def _cc_map(edges_df):
    return {
        r["node"]: r["component"] for r in connected_components(edges_df).collect()
    }


def test_cc_two_components_and_chain(spark):
    # chain 1-2-3-4-5 (diameter 4 forces multiple propagation rounds)
    # plus triangle 10-11-12, plus isolated edge 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    comp = _cc_map(edges)
    assert {comp[n] for n in (1, 2, 3, 4, 5)} == {1}
    assert {comp[n] for n in (10, 11, 12)} == {10}
    assert {comp[n] for n in (20, 21)} == {20}


def test_cc_direction_and_duplicate_edges_irrelevant(spark):
    a = spark.createDataFrame([(7, 3), (3, 7), (7, 3), (9, 7)], ["id_a", "id_b"])
    comp = _cc_map(a)
    assert comp == {3: 3, 7: 3, 9: 3}


def test_dedup_clusters_members_sorted(spark):
    edges = spark.createDataFrame([(5, 2), (2, 9), (40, 41)], ["id_a", "id_b"])
    rows = {r["component"]: r for r in dedup_clusters(edges).collect()}
    assert rows[2]["n_docs"] == 3 and rows[2]["doc_ids"] == "2,5,9"
    assert rows[40]["n_docs"] == 2 and rows[40]["doc_ids"] == "40,41"


def test_dedup_survivors_keeps_min_and_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 4), (4, 5)], ["id_a", "id_b"])
    kept = sorted(r["doc_id"] for r in dedup_survivors(docs, pairs).collect())
    # cluster {1,4,5} -> keep 1; docs 0,2,3 edge-free singletons
    assert kept == [0, 1, 2, 3]


# --- pagerank ------------------------------------------------------------


def test_pagerank_mass_conserved_and_ordering(spark):
    # star graph: hub 1 <- spokes 2,3,4 (spokes also get 1 -> spoke back
    # edges so no node dangles); hub must outrank every spoke
    from autonomous_orchestrator_ai_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 1), (1, 2), (1, 3), (1, 4)], ["src", "dst"]
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert set(ranks) == {1, 2, 3, 4}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # total mass conserved
    assert all(ranks[1] > ranks[s] for s in (2, 3, 4))
    assert abs(ranks[2] - ranks[3]) < 1e-12  # symmetric spokes tie


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from autonomous_orchestrator_ai_spark.operators.graph import pagerank

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (0, 2), (3, 1)]
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=5).collect()}

    n = 4
    out = np.zeros(n)
    for s, _ in pairs:
        out[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(5):
        nxt = np.full(n, 0.15 / n)
        for s, d in pairs:
            nxt[d] += 0.85 * r[s] / out[s]
        r = nxt
    for k in range(n):
        assert abs(got[k] - r[k]) < 1e-12, (k, got[k], r[k])


def test_pagerank_empty_edges(spark):
    from autonomous_orchestrator_ai_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src int, dst int")
    assert pagerank(empty).count() == 0


class TestTriangleStats:
    def test_known_small_graph(self, spark):
        from autonomous_orchestrator_ai_spark.operators.graph import (
            triangle_stats,
        )

        # triangle 1-2-3 plus pendant 3-4; reversed/dup edges collapse
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4), (2, 1)],
            "src long, dst long",
        )
        row = triangle_stats(edges).collect()[0]
        assert row["n_nodes"] == 4
        assert row["n_edges"] == 4
        assert row["n_wedges"] == 5  # deg 2,2,3,1 -> (2+2+6)/2
        assert row["n_triangles"] == 1
        assert abs(row["clustering"] - 0.6) < 1e-9

    def test_star_has_no_triangles(self, spark):
        from autonomous_orchestrator_ai_spark.operators.graph import (
            triangle_stats,
        )

        edges = spark.createDataFrame(
            [(0, i) for i in range(1, 8)], "src long, dst long"
        )
        row = triangle_stats(edges).collect()[0]
        assert row["n_triangles"] == 0
        assert row["n_wedges"] == 21
        assert row["clustering"] == 0.0

    def test_empty_and_self_loop_graph(self, spark):
        from autonomous_orchestrator_ai_spark.operators.graph import (
            triangle_stats,
        )

        # only self-loops -> no undirected edges at all
        edges = spark.createDataFrame(
            [(1, 1), (2, 2)], "src long, dst long"
        )
        row = triangle_stats(edges).collect()[0]
        assert row["n_nodes"] == 0
        assert row["n_edges"] == 0
        assert row["n_wedges"] == 0
        assert row["n_triangles"] == 0
        assert row["clustering"] == 0.0


# ---------------------------------------------------------------------------
# Star contraction (VERDICT r4 item 2)
# ---------------------------------------------------------------------------


def test_star_contraction_path_graph_logarithmic_rounds(spark):
    """A 10k-node path (diameter 9999) must converge in O(log^2 n)
    star-contraction rounds — propagation would need ~10k rounds."""
    from autonomous_orchestrator_ai_spark.operators.graph import (
        connected_components_star,
    )

    n = 10_000
    edges = spark.range(n - 1).selectExpr("id AS id_a", "id + 1 AS id_b")
    labels = {
        r["node"]: r["star_component"]
        for r in connected_components_star(edges, max_iterations=40).collect()
    }
    assert len(labels) == n
    assert set(labels.values()) == {0}
    # log2(10k) ~ 13.3; alternating contraction lands well under 2*log2(n)
    assert connected_components_star.last_iterations <= 27, (
        connected_components_star.last_iterations
    )


def test_star_contraction_equivalent_to_propagation(spark, monkeypatch):
    """Random multi-component graphs: star contraction and pure
    propagation (no switch before the round cap) produce identical
    (node -> min id) labelings."""
    import random

    from autonomous_orchestrator_ai_spark.operators import graph
    from autonomous_orchestrator_ai_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    monkeypatch.setattr(graph, "CC_SWITCH_AFTER", graph.CC_MAX_ITERATIONS)
    rng = random.Random(42)
    nodes = list(range(0, 400, 3))  # non-contiguous ids
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(180)
    ]
    df = spark.createDataFrame(edges, ["id_a", "id_b"]).filter(
        "id_a <> id_b"
    )
    prop = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    star = {
        r["node"]: r["star_component"]
        for r in connected_components_star(df).collect()
    }
    assert prop == star
    # ground truth via union-find on the driver
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    truth = {
        v: find(v)
        for v in {x for e in edges for x in e if e[0] != e[1]}
    }
    assert prop == truth


def test_cc_auto_switch_long_chain(spark, monkeypatch):
    """connected_components with the auto-switch solves a chain far longer
    than CC_SWITCH_AFTER rounds of propagation could."""
    from autonomous_orchestrator_ai_spark.operators import graph

    monkeypatch.setattr(graph, "CC_SWITCH_AFTER", 4)
    monkeypatch.setattr(graph, "CC_MAX_ITERATIONS", 40)
    n = 2_000
    edges = spark.range(n - 1).selectExpr("id AS id_a", "id + 1 AS id_b")
    labels = {
        r["node"]: r["component"]
        for r in graph.connected_components(edges).collect()
    }
    assert len(labels) == n
    assert set(labels.values()) == {0}


def test_star_contraction_empty_and_selfloop_edges(spark):
    from autonomous_orchestrator_ai_spark.operators.graph import (
        connected_components_star,
    )

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components_star(empty).count() == 0
    loops = spark.createDataFrame([(4, 4), (9, 9), (4, 7)], ["id_a", "id_b"])
    labels = {
        r["node"]: r["star_component"]
        for r in connected_components_star(loops).collect()
    }
    assert labels == {4: 4, 7: 4}


class TestKCore:
    def test_peels_trees_keeps_cycles(self, spark):
        from autonomous_orchestrator_ai_spark.operators.graph import k_core

        # triangle 1-2-3 with a pendant path 3-4-5 and an isolated edge 6-7
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (6, 7)],
            ["src", "dst"],
        )
        core = sorted(
            (r["src"], r["dst"]) for r in k_core(edges, 2).collect()
        )
        # the 2-core is exactly the triangle: the path and the isolated
        # edge peel away (5 and 7 first, then 4 and 6)
        assert core == [(1, 2), (1, 3), (2, 3)]

    def test_empty_core_and_validation(self, spark):
        import pytest as _pytest

        from autonomous_orchestrator_ai_spark.operators.graph import k_core

        # a star graph has no 2-core (every leaf has degree 1; peeling
        # leaves strips the hub too)
        star = spark.createDataFrame(
            [(0, i) for i in range(1, 5)], ["src", "dst"]
        )
        assert k_core(star, 2).count() == 0
        with _pytest.raises(ValueError):
            k_core(star, 0)

    def test_wave_cap_matches_reference_peel(self, spark):
        """Capped peel == reference peel run the same number of waves
        (the contract the wave-unrolled oracle relies on)."""
        import random

        from autonomous_orchestrator_ai_spark.operators.graph import k_core

        rng = random.Random(7)
        pairs = {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(30), rng.randrange(30)) for _ in range(60)
            )
            if a != b
        }
        edges = spark.createDataFrame(
            sorted(pairs), ["src", "dst"]
        )

        def ref_peel(E, k, waves):
            from collections import Counter

            E = set(E)
            for _ in range(waves):
                deg = Counter()
                for a, b in E:
                    deg[a] += 1
                    deg[b] += 1
                weak = {n for n, d in deg.items() if d < k}
                if not weak:
                    break
                E = {(a, b) for a, b in E if a not in weak and b not in weak}
            return sorted(E)

        for waves in (1, 2, 50):
            got = sorted(
                (r["src"], r["dst"])
                for r in k_core(edges, 3, max_iterations=waves).collect()
            )
            assert got == ref_peel(pairs, 3, waves)
