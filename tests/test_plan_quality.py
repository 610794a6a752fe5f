"""Physical-plan quality gates — the 100TB design assertions.

These tests read `.explain` output: filters/projections must reach the
parquet scan, dims must broadcast, the hot path must never contain a
row-at-a-time Python UDF, and text-only stages must not read media bytes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mediachain_indexer_spark.operators.blocking import build_blocks
from mediachain_indexer_spark.operators.normalize import normalize_documents
from mediachain_indexer_spark.sources.io import load_table, read_documents

SF_DIR = "/root/testdata/sf0.001"


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet(spark):
    df = load_table(spark, SF_DIR, "orders").where(F.col("o_orderkey") == 42)
    plan = _executed(df)
    assert "PushedFilters: [" in plan and "o_orderkey" in plan.split("PushedFilters:")[1][:200]


def test_column_pruning_readschema(spark):
    df = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    plan = _executed(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_dim_join_broadcasts(spark):
    from mediachain_indexer_spark.catalog import join_customer_nation_region

    plan = _executed(join_customer_nation_region(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_text_only_read_skips_media_leaves(spark, corpus500_paths):
    """A text-only consumer must not scan media_ref bytes.  Catalyst's
    nested pruning cannot see through HOF lambdas (measured), so the source
    schema is narrowed instead — the parquet reader skips the other leaves."""
    docs = read_documents(
        spark,
        corpus500_paths["spans_documents"],
        spans_fields=("kind", "text", "offset"),
    )
    text_only = normalize_documents(docs).select("doc_id", "norm_text")
    plan = _executed(text_only)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "media_ref" not in read_schema, read_schema
    # and the values are identical to a full-schema read
    full = normalize_documents(
        read_documents(spark, corpus500_paths["spans_documents"])
    ).select("doc_id", "norm_text")
    assert text_only.exceptAll(full).count() == 0


def test_no_row_python_anywhere_in_blocks(spark, corpus500_paths):
    docs = read_documents(spark, corpus500_paths["spans_documents"])
    blocks = build_blocks(normalize_documents(docs).select("doc_id", "norm_text", "phashes"))
    plan = _executed(blocks)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan  # the vectorized MinHash


def test_pair_generation_partitions_by_block_key(spark, corpus500_paths):
    """The north rule: 'the pair-generation shuffle is partitioned by
    blocking key' — assert a hashpartitioning(block_key) exchange exists."""
    from mediachain_indexer_spark.operators.pairs import candidate_pairs

    docs = read_documents(spark, corpus500_paths["spans_documents"])
    blocks = build_blocks(normalize_documents(docs).select("doc_id", "norm_text", "phashes"))
    plan = _executed(candidate_pairs(blocks))
    assert "hashpartitioning(block_key" in plan


def test_verify_tier_broadcasts_gram_sides(spark, corpus500_paths):
    """MinHash verify tier under the broadcast threshold: the gram arrays
    must attach via BroadcastHashJoin (never re-serialized through a
    sort-merge exchange — measured 3× transport cost), and the only Python
    in the plan must be Arrow-vectorized."""
    from mediachain_indexer_spark.operators.dedup import minhash_near_duplicates

    docs = read_documents(spark, corpus500_paths["spans_documents"]).select(
        "doc_id",
        F.concat_ws(
            " ", F.transform(F.col("spans"), lambda s: s["text"])
        ).alias("text"),
    )
    out = minhash_near_duplicates(docs, verify_jaccard=0.5)
    plan = _executed(out)
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
