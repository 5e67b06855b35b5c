"""Connected components: known graph shapes + cluster-dedup contract."""

from __future__ import annotations

import pytest

from financial_data_pipeline_optimization_spark.operators import dedup
from financial_data_pipeline_optimization_spark.operators.graph import (
    component_stars,
    connected_components,
)


def _components(spark, edges):
    df = spark.createDataFrame(edges, "a long, b long")
    return {
        r.node: r.component
        for r in connected_components(df).collect()
    }


def test_chain_collapses_to_min(spark):
    # 1-2-3-4-5 chain: transitivity must reach the far end
    got = _components(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_disjoint_components_stay_disjoint(spark):
    got = _components(spark, [(1, 2), (10, 11), (11, 12), (20, 21)])
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_cycle_and_duplicate_edges(spark):
    got = _components(spark, [(3, 7), (7, 9), (9, 3), (3, 7)])
    assert got == {3: 3, 7: 3, 9: 3}


def test_non_convergence_raises(spark):
    # A 5-node path still has source/dest chaining after one
    # large∘small round (a 3-node path converges in one — the
    # structural probe sees the star immediately), so max_iter=1
    # must raise.
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1)


def test_self_loop_only_node_labels_itself(spark):
    got = _components(spark, [(5, 5), (1, 2)])
    assert got == {1: 1, 2: 1, 5: 5}


def test_chain_round_count_is_logarithmic(spark):
    # A path of length 40 forces min-label propagation to ~39 rounds
    # (the minimum crawls one hop per round). Large-star/small-star is
    # O(log n): pin the round count well below the propagation bound so
    # a regression back to per-hop convergence fails loudly.
    n = 40
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "a long, b long"
    )
    stats: dict = {}
    got = {
        r.node: r.component
        for r in connected_components(df, max_iter=12, stats=stats).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}
    assert stats["rounds"] <= 10, stats


def _component_min(edges):
    """Union-find reference: node -> minimum node of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


@pytest.mark.parametrize(
    "edges",
    [
        pytest.param([(i, i + 1) for i in range(1, 30)], id="path"),
        pytest.param(
            [(a, b) for a in range(10, 30) for b in range(a + 1, 30)]
            + [(40, 41)],
            id="planted-clique",
        ),
        pytest.param(
            [(5, 5), (1, 2), (2, 1), (2, 3), (2, 3), (7, 7), (8, 7)],
            id="self-loops-and-duplicates",
        ),
    ],
)
def test_component_stars_invariants(spark, edges):
    """The converged star forest: each non-root node is a member
    exactly once, no root is a member, ``member > root``, and the root
    is the component minimum. Roots and self-loop-only nodes are absent,
    and ``fixpoint_edges`` is exactly the member count."""
    stats = {}
    stars = [
        (r.member, r.root)
        for r in component_stars(
            spark.createDataFrame(edges, "a long, b long"), stats=stats
        ).collect()
    ]
    members = [m for m, _ in stars]
    assert len(members) == len(set(members))
    assert not {r for _, r in stars} & set(members)
    assert all(m > r for m, r in stars)
    want = _component_min([(a, b) for a, b in edges if a != b])
    assert dict(stars) == {n: c for n, c in want.items() if n != c}
    assert stats["fixpoint_edges"] == len(stars)


def test_lsh_pair_source_refines_exact_clusters(spark):
    # LSH-sourced clusters must (a) find the planted near-dup chain and
    # (b) refine the exact clusters: verified LSH pairs are a subset of
    # exact pairs, so two docs sharing an LSH cluster share the exact
    # cluster.
    a = "alpha beta gamma delta epsilon zeta"
    b = "alpha beta gamma delta epsilon eta"
    c = "beta gamma delta epsilon eta theta"
    d = "completely different words entirely here"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d)], "doc_id long, text string"
    )
    exact = {
        r.doc_id: r.cluster_id
        for r in dedup.near_dup_clusters(
            df, "doc_id", "text", n=2, min_jaccard=0.5
        ).collect()
    }
    lsh = {
        r.doc_id: r.cluster_id
        for r in dedup.near_dup_clusters(
            df,
            "doc_id",
            "text",
            n=2,
            min_jaccard=0.5,
            pair_source="lsh",
            num_hashes=64,
            bands=32,
        ).collect()
    }
    assert set(lsh) == set(exact)
    # refinement: same LSH cluster => same exact cluster
    for x in lsh:
        for y in lsh:
            if lsh[x] == lsh[y]:
                assert exact[x] == exact[y]
    # recall on the planted chain (high-band LSH at this size finds it)
    assert lsh[1] == lsh[2] == lsh[3]
    assert lsh[4] == 4


def test_near_dup_clusters_transitive(spark):
    # B shares enough bigrams with A and C that A~B and B~C pass the
    # threshold while A~C alone would not — the cluster must still
    # merge all three; D is a singleton.
    a = "alpha beta gamma delta epsilon zeta"
    b = "alpha beta gamma delta epsilon eta"
    c = "beta gamma delta epsilon eta theta"
    d = "completely different words entirely here"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.near_dup_clusters(
            df, "doc_id", "text", n=2, min_jaccard=0.5
        ).collect()
    }
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == 4


def test_kcore_peel_cascades_on_path_graph(spark):
    """A path graph peels from the ends inward at k=2: each round
    removes exactly the two endpoints, so surviving-node count after
    r rounds is n - 2(r-1) at return time (degrees are measured
    before the final peel and filtered >= k) — the multi-round
    cascade the dense trade-graph query can't exercise."""
    from financial_data_pipeline_optimization_spark.operators.graph import kcore_peel

    n = 9  # path 0-1-2-...-8
    pairs = [(i, i + 1) for i in range(n - 1)]
    sym = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(sym, "src long, dst long")
    for rounds, expect in ((1, 7), (2, 5), (3, 3)):
        got = sorted(
            r.node for r in kcore_peel(edges, k=2, rounds=rounds).collect()
        )
        lo = rounds - 1
        assert got == list(range(lo + 1, n - lo - 1)), (rounds, got)


def test_kcore_peel_dense_graph_is_stable(spark):
    """A clique of 5 at k=4 survives any number of rounds with every
    degree intact — peeling must not erode a true core."""
    from financial_data_pipeline_optimization_spark.operators.graph import kcore_peel

    nodes = range(5)
    sym = [(a, b) for a in nodes for b in nodes if a != b]
    edges = spark.createDataFrame(sym, "src long, dst long")
    rows = kcore_peel(edges, k=4, rounds=3).collect()
    assert sorted(r.node for r in rows) == list(nodes)
    assert all(r.degree == 4 for r in rows)


def _logical_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_kcore_broadcast_keeps_size_gate(spark):
    """broadcast_keeps must FALL BACK to the shuffle semi-joins when
    the round-0 survivor count exceeds broadcast_max_nodes: at web
    scale the keep list is 10^9+ longs — past Spark's 8 GB broadcast
    limit — so the zero-shuffle plan cannot be unconditional. Pinned
    via the optimized logical plan's broadcast join hints (deterministic
    regardless of AQE's runtime join re-selection) plus value equality
    across all three modes on a graph that peels."""
    from financial_data_pipeline_optimization_spark.operators.graph import kcore_peel

    # clique of 6 (survives k=3) plus a pendant path that peels away
    nodes = range(6)
    pairs = [(a, b) for a in nodes for b in nodes if a < b]
    pairs += [(5, 10), (10, 11)]
    sym = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(sym, "src long, dst long")

    on_stats = {}
    on = kcore_peel(
        edges, k=3, rounds=3, broadcast_keeps=True, stats=on_stats
    )
    assert "strategy=broadcast" in _logical_plan(on)
    assert on_stats["peel_mode"] == "broadcast"
    assert on_stats["round0_survivors"] == 6  # the clique

    # round-0 survivors = raw-graph nodes with degree >= 3 (the
    # 6-clique; the pendant nodes are already under k) — a budget of
    # 1 is below that, forcing the fallback
    gated_stats = {}
    gated = kcore_peel(
        edges, k=3, rounds=3, broadcast_keeps=True, broadcast_max_nodes=1,
        stats=gated_stats,
    )
    assert "strategy=broadcast" not in _logical_plan(gated)
    assert gated_stats["peel_mode"] == "shuffle-fallback"
    assert gated_stats["round0_survivors"] == 6

    plain_stats = {}
    plain = kcore_peel(edges, k=3, rounds=3, stats=plain_stats)
    assert plain_stats == {"peel_mode": "shuffle"}
    want = sorted((r.node, r.degree) for r in plain.collect())
    assert sorted((r.node, r.degree) for r in on.collect()) == want
    assert sorted((r.node, r.degree) for r in gated.collect()) == want
    assert want == [(i, 5) for i in nodes]

    # The size gate REUSES round 0's degree aggregation: a 1-round
    # broadcast peel's plan reads the checkpointed degree table (no
    # Aggregate over the edges left in the plan — the one aggregation
    # already ran inside the gate's count), while the shuffle path
    # still aggregates lazily.
    one_round = kcore_peel(edges, k=3, rounds=1, broadcast_keeps=True)
    assert "Aggregate" not in _logical_plan(one_round)
    assert "Aggregate" in _logical_plan(kcore_peel(edges, k=3, rounds=1))
