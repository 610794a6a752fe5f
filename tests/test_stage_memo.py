"""Stage expressions built once per SparkContext (session.per_context), and
a generated-code cache that holds the pipeline's working set."""

from __future__ import annotations

from pyspark.sql import functions as F

from mediachain_indexer_spark import session
from mediachain_indexer_spark.functions.minhash import make_minhash_udf
from mediachain_indexer_spark.functions.simtext import make_jw
from mediachain_indexer_spark.operators.blocking import build_blocks
from mediachain_indexer_spark.operators.normalize import normalize_documents
from mediachain_indexer_spark.operators.pairs import candidate_pairs
from mediachain_indexer_spark.operators.scoring import score_pairs
from mediachain_indexer_spark.plans.pipeline import run_pipeline


def _codegen_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _materialize_pipeline(docs) -> None:
    res = run_pipeline(docs)
    try:
        res.clusters.count()
        res.matches.count()
    finally:
        res.features.unpersist()
        res.scored.unpersist()


def test_second_pipeline_run_compiles_no_code(spark, docs500):
    # a plan no earlier test cached (the optimizer drops the filter), so
    # both runs compute every stage and need the same generated classes
    docs = docs500.where(F.lit(True))
    _materialize_pipeline(docs)
    before = _codegen_compiles(spark)
    _materialize_pipeline(docs)
    assert _codegen_compiles(spark) - before == 0


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_memoized_outputs_in_one_plan_keep_inputs_apart(spark, docs500):
    """Two calls' outputs over disjoint inputs, unioned into one plan, give
    the rows of one call over the union: a shared expression tree never
    conflates two plan inputs, and each call's UDF stays its own."""
    left = F.xxhash64("doc_id") % 2 == 0
    feats = normalize_documents(docs500).select("doc_id", "norm_text", "phashes")
    feats_l, feats_r = feats.where(left), feats.where(~left)

    normalized = normalize_documents(docs500.where(left)).unionByName(
        normalize_documents(docs500.where(~left))
    )
    assert _rows(normalized) == _rows(normalize_documents(docs500))

    blocks = build_blocks(feats)
    assert _rows(build_blocks(feats_l).unionByName(build_blocks(feats_r))) == _rows(
        blocks
    )

    pairs = candidate_pairs(blocks).persist()
    try:
        pair_left = F.xxhash64("doc_a") % 2 == 0
        split = score_pairs(pairs.where(pair_left), feats).unionByName(
            score_pairs(pairs.where(~pair_left), feats)
        )
        whole = _rows(score_pairs(pairs, feats))
        assert len(whole) > 0
        assert _rows(split) == whole
    finally:
        pairs.unpersist()


def test_memo_is_keyed_by_spark_context(spark, monkeypatch):
    """A UDF binds to its context on first use, so another context gets its
    own objects; within one context a builder returns the same object."""
    jw = make_jw()
    minhash = make_minhash_udf(72, 3, 42)
    assert make_jw() is jw
    assert make_minhash_udf(72, 3, 42) is minhash
    assert make_minhash_udf(64, 5, 42) is not minhash

    other = object()  # stands in for a restarted session's SparkContext
    monkeypatch.setattr(session, "_active_context", lambda: other)
    jw_other = make_jw()
    assert jw_other is not jw
    assert make_minhash_udf(72, 3, 42) is not minhash
    assert make_jw() is jw_other

    monkeypatch.undo()
    jw_again = make_jw()
    assert jw_again is not jw_other
    assert make_jw() is jw_again
