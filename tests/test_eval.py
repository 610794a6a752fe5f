"""Evaluation helpers: pairwise F1 accounting."""

from __future__ import annotations

from mediachain_indexer_spark.plans.eval import pairwise_f1


def test_pairwise_f1_counts(spark):
    labels = spark.createDataFrame(
        [("a", "b", True), ("a", "c", True), ("x", "y", False), ("p", "q", True)],
        "doc_a string, doc_b string, is_match boolean",
    )
    # blocks: everything co-blocked except (p, q)
    blocks = spark.createDataFrame(
        [("k1", "a"), ("k1", "b"), ("k1", "c"), ("k2", "x"), ("k2", "y")],
        "block_key string, doc_id string",
    )
    clusters = spark.createDataFrame(
        [("a", "e1"), ("b", "e1"), ("c", "e2"), ("x", "e3"), ("y", "e3")],
        "doc_id string, entity_id string",
    )
    m = pairwise_f1(labels, blocks, clusters)
    # eligible: (a,b)+ pred+, (a,c)+ pred-, (x,y)- pred+ ; (p,q) not co-blocked
    assert m["n_eligible"] == 3
    assert (m["tp"], m["fp"], m["fn"]) == (1, 1, 1)
    assert abs(m["f1"] - 0.5) < 1e-12
