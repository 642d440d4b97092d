"""Large-star/small-star connected components (VERDICT r10 #7 —
Kiveris et al. 2014): equivalence to the min-label form on every
graph shape, and the diameter-stress separation that motivates it
(O(log² n) rounds vs O(diameter))."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    dedup as DD,
)


def _frames(spark, n_nodes, edge_list):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    edges = spark.createDataFrame(
        edge_list or [(0, 0)], "id_a long, id_b long"
    )
    if not edge_list:
        edges = edges.filter(F.lit(False))
    return nodes, edges


def _labels(df):
    return {r["id"]: r["component"] for r in df.collect()}


GRAPHS = {
    "path": (10, [(i, i + 1) for i in range(9)]),
    "clique": (6, [(i, j) for i in range(5) for j in range(i + 1, 5)]),
    "star_high_center": (8, [(7, i) for i in range(6)]),
    "two_components_plus_singletons": (
        12,
        [(0, 1), (1, 2), (4, 5), (5, 6), (6, 4)],
    ),
    "duplicate_and_reversed_edges": (5, [(0, 1), (1, 0), (0, 1), (2, 3)]),
    "self_loops_only": (4, [(1, 1), (2, 2)]),
    "empty": (5, []),
}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_star_equals_min_label(spark, name):
    n, edge_list = GRAPHS[name]
    nodes, edges = _frames(spark, n, edge_list)
    a = _labels(DD.connected_components(nodes, edges))
    b = _labels(DD.connected_components_star(nodes, edges))
    assert a == b, f"{name}: star vs min-label disagree"


def test_star_equals_min_label_random_graph(spark):
    rng = random.Random(42)
    n = 120
    edge_list = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(180)
    ]
    nodes, edges = _frames(spark, n, edge_list)
    a = _labels(DD.connected_components(nodes, edges, max_iter=200))
    b = _labels(DD.connected_components_star(nodes, edges))
    assert a == b


def test_diameter_stress_star_wins(spark):
    """Adversarial near-dup chain (serial plagiarism): a path of 300
    nodes has diameter 299. Min-label at its default round budget
    (20) CANNOT have converged — path contraction is one hop per
    round — while large-star/small-star halves path lengths and
    lands the exact answer well inside that same budget."""
    n = 300
    nodes, edges = _frames(spark, n, [(i, i + 1) for i in range(n - 1)])

    stats: dict = {}
    got = _labels(
        DD.connected_components_star(nodes, edges, max_iter=20, stats=stats)
    )
    assert got == {i: 0 for i in range(n)}
    assert stats["rounds"] <= 12, (
        f"star variant needed {stats['rounds']} rounds on a 300-path"
    )

    # min-label at the same budget must REFUSE to answer (round-12
    # advice: before this guard it silently returned wrong labels)
    with pytest.raises(DD.ConnectedComponentsDidNotConverge):
        DD.connected_components(nodes, edges, max_iter=20)

    # diagnostics path: on_max_iter="return" exposes the wrong labels
    # (proving the raise is load-bearing) and flags them in stats
    mstats: dict = {}
    wrong = _labels(
        DD.connected_components(
            nodes, edges, max_iter=20, stats=mstats, on_max_iter="return"
        )
    )
    assert mstats["converged"] is False
    assert wrong != {i: 0 for i in range(n)}, (
        "min-label unexpectedly converged a 299-diameter path in 20 "
        "rounds — the escape hatch would be unnecessary"
    )


def test_star_raises_on_exhausted_budget(spark):
    """The star form refuses a budget it cannot converge in, and
    stats reports converged=False under the diagnostics escape."""
    n = 64
    nodes, edges = _frames(spark, n, [(i, i + 1) for i in range(n - 1)])
    with pytest.raises(DD.ConnectedComponentsDidNotConverge):
        DD.connected_components_star(nodes, edges, max_iter=1)
    stats: dict = {}
    DD.connected_components_star(
        nodes, edges, max_iter=1, stats=stats, on_max_iter="return"
    )
    assert stats["converged"] is False
    ok: dict = {}
    DD.connected_components_star(nodes, edges, stats=ok)
    assert ok["converged"] is True


def test_survivors_from_edges_handles_deep_chain(spark):
    """survivors_from_edges routes through the star CC (round-12
    advice), so a 300-node near-dup chain — which would exhaust
    min-label's default budget — resolves exactly at the DEFAULT
    budget: one component, min id kept."""
    n = 300
    nodes, edges = _frames(spark, n, [(i, i + 1) for i in range(n - 1)])
    out = DD.survivors_from_edges(
        nodes.select(F.col("id").alias("doc_id")), edges, id_col="doc_id"
    ).collect()
    assert len(out) == n
    assert all(r["component"] == 0 for r in out)
    kept = {r["doc_id"] for r in out if r["kept"]}
    assert kept == {0}


def test_star_survivors_composition(spark):
    """survivors_from_edges semantics hold when fed through the star
    CC as well: same kept set as min-label on a mixed graph."""
    n, edge_list = 12, [(0, 1), (1, 2), (4, 5), (5, 6), (6, 4)]
    nodes, edges = _frames(spark, n, edge_list)
    comp = DD.connected_components_star(nodes, edges)
    kept = {
        r["id"]
        for r in comp.filter(F.col("id") == F.col("component")).collect()
    }
    assert kept == {0, 3, 4, 7, 8, 9, 10, 11}


def _union_find(vertices, edge_list):
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in vertices}


@pytest.mark.parametrize(
    "node_ids, edge_list",
    [
        # dangling endpoints 100/101 inside a 5-vertex chain: on the
        # round they first receive a label nothing else changes
        ([1, 2, 3, 4], [(1, 100), (100, 2), (2, 101), (101, 3)]),
        # the dangling endpoint 0 is the component minimum
        ([10, 20, 30], [(10, 0), (0, 20), (20, 5), (5, 30)]),
    ],
    ids=["dangling_mid_chain", "dangling_minimum"],
)
def test_dangling_edge_endpoints_match_union_find(spark, node_ids, edge_list):
    """Edge endpoints missing from ``nodes`` are ordinary vertices of
    the component graph for both CC forms: labels equal a union-find
    over the same edges. Min-label also returns a row for each
    dangling endpoint; the star form returns rows for ``nodes`` only."""
    nodes = spark.createDataFrame([(i,) for i in node_ids], "id long")
    edges = spark.createDataFrame(edge_list, "id_a long, id_b long")
    vertices = set(node_ids) | {v for e in edge_list for v in e}
    want = _union_find(vertices, edge_list)
    stats = {}
    assert _labels(DD.connected_components(nodes, edges, stats=stats)) == want
    assert stats["converged"]
    assert _labels(DD.connected_components_star(nodes, edges)) == {
        i: want[i] for i in node_ids
    }

# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
pytestmark = pytest.mark.slow
