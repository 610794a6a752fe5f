"""Incremental ingest (plans/ingest.py): folding the corpus in two
increments must converge to EXACTLY the one-shot batch clustering —
including entity merges bridged by a later increment."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mediachain_indexer_spark.operators.blocking import build_blocks
from mediachain_indexer_spark.operators.normalize import normalize_documents
from mediachain_indexer_spark.plans.ingest import (
    EntityStore,
    ingest_increment,
    read_store_entities,
)
from mediachain_indexer_spark.plans.pipeline import run_pipeline
from mediachain_indexer_spark.sources.io import SPANS_SCHEMA
from mediachain_indexer_spark.sources.merge import read_entities, upsert_entities


def _clusters(df) -> dict:
    return {r["doc_id"]: r["entity_id"] for r in df.collect()}


def test_two_increments_equal_one_shot(spark, docs500, tmp_path):
    store = EntityStore(str(tmp_path / "store"))

    # interleave by hash so duplicate clusters straddle the two increments
    # (forcing cross-increment matches AND old-entity merges)
    half_a = docs500.where(F.xxhash64("doc_id") % 2 == 0)
    half_b = docs500.where(F.xxhash64("doc_id") % 2 != 0)
    s1 = ingest_increment(half_a, store)
    assert s1["n_docs_in"] + half_b.count() == 500
    mid = _clusters(read_store_entities(spark, store))
    assert len(mid) == s1["n_docs_in"]

    s2 = ingest_increment(half_b, store)
    final = _clusters(read_store_entities(spark, store))
    assert len(final) == 500

    batch = _clusters(run_pipeline(docs500).clusters)
    assert final == batch  # exact: same entity ids, not just same partition

    # at least one cross-increment merge actually happened (the test would
    # be vacuous if the halves never shared an entity)
    merged = [d for d in mid if final[d] != mid[d]]
    assert s2["n_matches"] > 0
    assert len(merged) > 0


def test_increment_idempotent_replay(spark, docs500, tmp_path):
    """Replaying the same increment (at-least-once delivery) must not
    change assignments — the MERGE keys on doc_id."""
    store = EntityStore(str(tmp_path / "store"))
    ingest_increment(docs500, store)
    first = _clusters(read_store_entities(spark, store))
    stats = ingest_increment(docs500, store)
    again = _clusters(read_store_entities(spark, store))
    assert again == first
    assert stats["n_docs_changed"] == 0


def test_store_read_runs_no_job(spark, tmp_path):
    """A store read declares the table's schema, so building the frame
    runs no Spark job (no parquet schema inference)."""
    store = EntityStore(str(tmp_path / "store"))
    rows = spark.createDataFrame([("d1", "e1"), ("d2", "e1")], "doc_id string, entity_id string")
    upsert_entities(rows, store.entities, n_buckets=store.n_buckets)
    sc = spark.sparkContext
    group = "store-read-jobs"
    sc.setJobGroup(group, "read_store_entities")
    try:
        ents = read_store_entities(spark, store)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert ents.columns == ["doc_id", "entity_id"]
    assert _clusters(ents) == {"d1": "e1", "d2": "e1"}


def _stored_blocks(spark, store) -> set:
    """The features table's block_keys exploded to (block_key, doc_id,
    exact_hash) rows."""
    feats = read_entities(spark, store.features)
    return {
        tuple(r)
        for r in feats.select(F.explode("block_keys"), "doc_id", "exact_hash").collect()
    }


def _built_blocks(docs) -> set:
    blocks = build_blocks(normalize_documents(docs))
    return {tuple(r) for r in blocks.select("block_key", "doc_id", "exact_hash").collect()}


def test_store_blocks_keep_exact_hash(spark, docs500, tmp_path):
    """The stored rows carry the block keys and exact_hash build_blocks
    gives, so ingest and delete hand candidate_pairs the batch block-table
    shape."""
    docs = docs500.where(F.xxhash64("doc_id") % 8 == 0)
    store = EntityStore(str(tmp_path / "store"))
    ingest_increment(docs, store)
    stored = _stored_blocks(spark, store)
    want = _built_blocks(docs)
    assert stored == want
    assert any(r[2] is not None for r in stored)


def test_entity_ingest_stream_two_files(spark, corpus500_paths, tmp_path):
    """Streaming wrapper: two files arriving as separate micro-batches end
    with every doc assigned in the store's entity table."""
    import os
    import time

    from mediachain_indexer_spark.sources.io import read_documents
    from mediachain_indexer_spark.streaming.incremental import entity_ingest_stream

    docs = read_documents(spark, corpus500_paths["spans_documents"]).limit(60)
    src = tmp_path / "src"
    os.makedirs(src)
    half_a = docs.where(F.xxhash64("doc_id") % 2 == 0)
    half_b = docs.where(F.xxhash64("doc_id") % 2 != 0)
    n_total = docs.count()
    half_a.coalesce(1).write.parquet(str(src / "f1"))

    stream = spark.readStream.schema(SPANS_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src / "*"))
    store_root = str(tmp_path / "store")
    q = entity_ingest_stream(
        stream, store_root, str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    try:
        q.awaitTermination(120)
        half_b.coalesce(1).write.parquet(str(src / "f2"))
        q2 = entity_ingest_stream(
            stream, store_root, str(tmp_path / "ckpt")
        ).trigger(availableNow=True).start()
        q2.awaitTermination(120)
    finally:
        for qq in spark.streams.active:
            qq.stop()

    final = _clusters(read_store_entities(spark, EntityStore(store_root)))
    assert len(final) == n_total


def test_textless_first_increment(spark, tmp_path):
    """Blank text and no media block to nothing: each doc keeps its store
    row with no block keys, and still becomes its own entity."""
    rows = [(d, [("text", t, None, 0)]) for d, t in (("e_a", ""), ("e_b", "   "))]
    store = EntityStore(str(tmp_path / "store"))
    stats = ingest_increment(spark.createDataFrame(rows, SPANS_SCHEMA), store)
    assert stats["n_docs_in"] == 2 and stats["n_pairs_scored"] == 0
    assert _clusters(read_store_entities(spark, store)) == {"e_a": "e_a", "e_b": "e_b"}
    feats = read_entities(spark, store.features).collect()
    assert {r["doc_id"]: r["block_keys"] for r in feats} == {"e_a": [], "e_b": []}


_SHARED = "the quick brown fox jumps over the lazy dog beside the quiet river bank"
_UNRELATED = "seventeen violet umbrellas drifted across an empty parking garage at noon"


def _text_docs(spark, texts: dict):
    rows = [(d, [("text", t, None, 0)]) for d, t in sorted(texts.items())]
    return spark.createDataFrame(rows, SPANS_SCHEMA)


@pytest.mark.parametrize("changed", ["ch_b", "ch_a"])  # a member; the min doc
def test_changed_doc_reingest_equals_batch(spark, tmp_path, changed):
    """Re-ingesting a doc with new content replaces its row and keys and
    re-resolves its old entity: the store equals batch on the final
    corpus, whether the changed doc is a member or the entity's root."""
    store = EntityStore(str(tmp_path / "store"))
    ingest_increment(_text_docs(spark, {"ch_a": _SHARED, "ch_b": _SHARED}), store)
    assert _clusters(read_store_entities(spark, store)) == {"ch_a": "ch_a", "ch_b": "ch_a"}

    new = _text_docs(spark, {changed: _UNRELATED})
    stats = ingest_increment(new, store)

    final = {"ch_a": _SHARED, "ch_b": _SHARED, changed: _UNRELATED}
    batch = _clusters(run_pipeline(_text_docs(spark, final)).clusters)
    assert _clusters(read_store_entities(spark, store)) == batch
    assert {r for r in _stored_blocks(spark, store) if r[1] == changed} == _built_blocks(new)
    assert stats["n_docs_changed"] == 1
