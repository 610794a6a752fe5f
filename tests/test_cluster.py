"""Connected components: large-star/small-star vs networkx oracle
(FIXTURES.md B5), incl. adversarial path + star graphs, and the
partition-local union-find contraction that feeds the loop."""

from __future__ import annotations

import random

import networkx as nx
import pandas as pd
import pytest

from mediachain_indexer_spark.operators.cluster import (
    _contract_partition,
    _contracted_edges,
    _local_roots,
    _non_star_nodes,
    _star_stats,
    attach_components,
    connected_components,
)


def _check(spark, edges: list[tuple[str, str]], partitions: int | None = None):
    df = spark.createDataFrame(edges, "doc_a string, doc_b string")
    if partitions is not None:
        df = df.repartition(partitions)
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


def test_empty_edges(spark):
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


# --- partition-local contraction -------------------------------------------


def _clustered_edges(seed: int, n_clusters: int = 40) -> list[tuple[str, str]]:
    """Near-clique clusters of 2-12 docs (each a random spanning tree plus
    extra intra-cluster edges) under shuffled ids, plus a few cross-cluster
    bridges, so components mix cliques, trees and merged clusters."""
    rng = random.Random(seed)
    ids = [f"d{i:05d}" for i in range(n_clusters * 12)]
    rng.shuffle(ids)
    pool = iter(ids)
    clusters = [[next(pool) for _ in range(rng.randint(2, 12))] for _ in range(n_clusters)]
    edges = []
    for c in clusters:
        edges += [(c[i], rng.choice(c[:i])) for i in range(1, len(c))]
        edges += [tuple(rng.sample(c, 2)) for _ in range(len(c))]
    for _ in range(n_clusters // 8):
        a, b = rng.sample(clusters, 2)
        edges.append((rng.choice(a), rng.choice(b)))
    return edges


def _nx_roots(edges) -> dict[str, str]:
    g = nx.Graph(edges)
    return {x: min(c) for c in nx.connected_components(g) for x in c}


def test_local_roots_point_at_local_minimum():
    edges = _clustered_edges(seed=1)
    out = _local_roots(pd.DataFrame(edges, columns=["u", "v"]))
    expected = _nx_roots(edges)
    assert out["u"].is_unique
    assert (out["v"] < out["u"]).all()
    for x, r in zip(out["u"], out["v"]):
        assert r == expected[x], (x, r, expected[x])
    # exactly the non-minimum nodes are emitted
    assert set(out["u"]) == {x for x, r in expected.items() if x != r}


@pytest.mark.parametrize("k", [1, 3, 7])
def test_chunked_contraction_preserves_components(k):
    """Any split of the edges into chunks (the partitioning is the caller's):
    the union of per-chunk outputs, closed transitively as the star loop
    does, has exactly the input's components."""
    rng = random.Random(k)
    edges = _clustered_edges(seed=10 + k)
    rng.shuffle(edges)
    cuts = sorted(rng.sample(range(1, len(edges)), k - 1))
    chunks = [edges[i:j] for i, j in zip([0, *cuts], [*cuts, len(edges)])]
    contracted = []
    for chunk in chunks:
        pdf = pd.DataFrame(chunk, columns=["u", "v"])
        for out in _contract_partition(iter([pdf[: len(pdf) // 2], pdf[len(pdf) // 2 :]])):
            contracted += list(zip(out["u"], out["v"]))
    assert _nx_roots(contracted) == _nx_roots(edges)


def test_contract_partition_empty_yields_no_rows():
    assert list(_contract_partition(iter([]))) == []
    empty = pd.DataFrame({"u": pd.Series([], dtype=object), "v": pd.Series([], dtype=object)})
    assert sum(len(out) for out in _contract_partition(iter([empty]))) == 0


def test_local_roots_long_shuffled_path():
    """5k-node path with shuffled ids: the hooking rounds terminate and
    every node lands on the path minimum."""
    ids = [f"p{i:05d}" for i in range(5000)]
    random.Random(7).shuffle(ids)
    out = _local_roots(pd.DataFrame({"u": ids[:-1], "v": ids[1:]}))
    assert len(out) == 4999
    assert set(out["v"]) == {"p00000"}


def test_partially_contracted_input_vs_networkx(spark):
    """Clusters straddle 7 round-robin partitions, so the contraction leaves
    the loop a graph that is not yet a star forest; the result is still
    exactly networkx's."""
    edges = _clustered_edges(seed=3)
    df = spark.createDataFrame(edges, "doc_a string, doc_b string").repartition(7)
    contracted = _contracted_edges(df, "doc_a", "doc_b")
    assert _non_star_nodes(_star_stats(contracted)).count() > 0
    _check(spark, edges, partitions=7)


def test_near_clique_partition_converges_on_first_check(spark):
    """One partition holding whole near-cliques contracts to a star forest:
    the call runs the entry count and ONE convergence check, nothing else."""
    edges = _clustered_edges(seed=4)
    df = spark.createDataFrame(edges, "doc_a string, doc_b string").coalesce(1)
    sc = spark.sparkContext
    group = "cc-near-clique-jobs"
    sc.setJobGroup(group, "connected_components on one near-clique partition")
    try:
        comps = connected_components(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    got = {r["doc_id"]: r["entity_id"] for r in comps.collect()}
    assert got == _nx_roots(edges)


def test_contraction_reads_scored_cache_without_exchange(spark, docs500):
    """Over the pipeline's scored cache the CC entry is one Arrow
    ``MapInPandas`` pass straight over the cache scan: no row-at-a-time
    Python and no exchange in between."""
    from mediachain_indexer_spark.plans.pipeline import run_pipeline

    res = run_pipeline(docs500)
    plan = _contracted_edges(res.matches, "doc_a", "doc_b")._jdf.queryExecution()
    lines = plan.executedPlan().toString().splitlines()
    res.scored.unpersist()
    res.features.unpersist()
    assert "BatchEvalPython" not in "\n".join(lines)
    start = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    scan = next(i for i, ln in enumerate(lines) if "InMemoryTableScan" in ln)
    assert start < scan
    assert not any("Exchange" in ln for ln in lines[start:scan])
