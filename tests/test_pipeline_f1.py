"""End-to-end golden gate: pairwise F1 ≥ 0.99 on labeled pairs at shared
blocking keys (BASELINE.json metric), plus hot-path purity (no row-UDFs)."""

from __future__ import annotations

import os

import pytest

from mediachain_indexer_spark.plans.eval import pairwise_f1
from mediachain_indexer_spark.plans.pipeline import run_pipeline
from mediachain_indexer_spark.sources import fixtures
from mediachain_indexer_spark.sources.io import read_documents

CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache")


@pytest.fixture(scope="module")
def result500(docs500):
    return run_pipeline(docs500)


def test_f1_gate_500(spark, result500, labels500):
    m = pairwise_f1(labels500, result500.blocks, result500.clusters)
    assert m["f1"] >= 0.99, m


def test_golden_clusters_500(spark, result500, golden500):
    """Exact cluster assignment matches the planted entities."""
    pred = result500.clusters
    joined = pred.join(golden500.withColumnRenamed("entity_id", "expected"), "doc_id")
    mismatches = joined.where("entity_id != expected").count()
    total = golden500.count()
    assert mismatches / total <= 0.01, f"{mismatches}/{total} docs mis-clustered"


def test_f1_gate_3000(spark):
    """Golden F1 gate at the 3k-doc scale (fresh corpus, fresh thresholds)."""
    paths = fixtures.write_corpus(os.path.join(CACHE, "fx3000"), 3000)
    docs = read_documents(spark, paths["spans_documents"])
    labels = spark.read.parquet(paths["labeled_pairs"])
    res = run_pipeline(docs)
    m = pairwise_f1(labels, res.blocks, res.clusters)
    assert m["f1"] >= 0.99, m


def test_scored_cache_coalesced_below_shuffle_width(spark, result500):
    """AQE may coalesce inside persist()ed plans: the 500-doc scored cache
    runs narrower than spark.sql.shuffle.partitions."""
    result500.scored.count()
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert result500.scored.rdd.getNumPartitions() < width


def test_no_row_python_in_plan(spark, result500):
    """BASELINE.md row 6: plan may contain ArrowEvalPython (pandas_udf),
    never BatchEvalPython (row-at-a-time Python UDF)."""
    plan = result500.scored._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan
