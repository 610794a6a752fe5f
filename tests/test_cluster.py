"""Connected components: large-star/small-star vs networkx oracle
(FIXTURES.md B5), incl. adversarial path + star graphs."""

from __future__ import annotations

import random

import networkx as nx
import pytest

from mediachain_indexer_spark.operators.cluster import (
    attach_components,
    connected_components,
)


def _check(spark, edges: list[tuple[str, str]]):
    df = spark.createDataFrame(edges, "doc_a string, doc_b string")
    got = {
        r["doc_id"]: r["entity_id"]
        for r in connected_components(df).collect()
    }
    g = nx.Graph()
    g.add_edges_from(edges)
    for comp in nx.connected_components(g):
        root = min(comp)
        for node in comp:
            assert got[node] == root, (node, got[node], root)
    assert set(got) == set(g.nodes)


def test_simple_components(spark):
    _check(spark, [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p2"), ("p2", "p3"), ("p3", "p")])


def test_path_graph_worst_case_diameter(spark):
    n = 300
    edges = [(f"n{i:04d}", f"n{i+1:04d}") for i in range(n - 1)]
    _check(spark, edges)


def test_star_graph_worst_case_degree(spark):
    edges = [("hub", f"s{i:03d}") for i in range(200)]
    _check(spark, edges)


def test_random_graph_vs_networkx(spark):
    rng = random.Random(42)
    nodes = [f"v{i:03d}" for i in range(150)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(120)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_attach_components_singletons(spark):
    docs = spark.createDataFrame([("a",), ("b",), ("z",)], "doc_id string")
    comps = connected_components(
        spark.createDataFrame([("a", "b")], "doc_a string, doc_b string")
    )
    got = {r["doc_id"]: r["entity_id"] for r in attach_components(docs, comps).collect()}
    assert got == {"a": "a", "b": "a", "z": "z"}


def test_clustering_is_a_partition(spark, docs500):
    """Every doc gets exactly one entity id (validity property)."""
    from mediachain_indexer_spark.plans.pipeline import run_pipeline

    res = run_pipeline(docs500)
    clusters = res.clusters
    assert clusters.count() == docs500.count()
    assert clusters.select("doc_id").distinct().count() == docs500.count()
    assert clusters.where("entity_id is null").count() == 0


@pytest.mark.parametrize("n_edges", [0])
def test_empty_edges(spark, n_edges):
    df = spark.createDataFrame([], "doc_a string, doc_b string")
    assert connected_components(df).count() == 0


def test_star_violation_counter_rejects_multi_parent_no_chain(spark):
    """The convergence test must NOT stop at a multi-parent state with no
    2-hop chain: {(3,1),(5,1),(3,2),(6,2)} has no v appearing as a u, yet
    node 3 has two parents — it is not a star forest and not a fixpoint.
    A chain-only test would declare convergence here and emit doc 3 with
    TWO entity ids while leaving components {1,..} and {2,..} unmerged."""
    from mediachain_indexer_spark.operators.cluster import (
        _non_star_nodes,
        _star_stats,
    )

    def n_bad(edges):
        e = spark.createDataFrame(edges, "u string, v string")
        return _non_star_nodes(_star_stats(e)).count()

    assert n_bad([("3", "1"), ("5", "1"), ("3", "2"), ("6", "2")]) > 0
    # a 2-hop chain is not a star forest either
    assert n_bad([("3", "2"), ("2", "1")]) > 0
    # a genuine star forest passes
    assert n_bad([("3", "1"), ("5", "1"), ("6", "2")]) == 0
    # and end-to-end, the same edge set as INPUT must fully merge
    _check(spark, [("3", "1"), ("5", "1"), ("3", "2"), ("6", "2")])


def test_long_path_converges_logarithmically(spark):
    """5k-node path (worst-case diameter): large-star/small-star must
    converge in O(log n) rounds, not O(diameter)."""
    n = 5000
    edges = [(f"p{i:05d}", f"p{i+1:05d}") for i in range(n - 1)]
    df = spark.createDataFrame(edges, "doc_a string, doc_b string")
    comps = connected_components(df, max_iter=20)  # log2(5000) ≈ 12.3
    got = comps.where("entity_id != 'p00000'").count()
    assert got == 0
    assert comps.count() == n
