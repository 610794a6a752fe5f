"""Incremental entity ingest: per-increment ER against a persistent store.

Parity: the reference IS an incremental indexer — new records are
normalized, hashed, candidate-matched against the existing index, and
upserted with their dupe-cluster assignment (``mediachain/indexer/
mc_ingest.py`` streaming ingest + ``mc_dedupe.py`` neighbor match).  The
batch pipeline (plans/pipeline.py) rebuilds the world; this module folds an
increment in WITHOUT re-scoring the existing corpus:

store layout (one row per doc_id in each table, MERGE-upserted by doc_id
via sources/merge.py — Iceberg tables in prod):
    <root>/features  (doc_id, norm_text, phashes, exact_hash, block_keys)
                     keys and hash as build_blocks emits them, so exploding
                     block_keys gives the batch block-table shape
    <root>/entities  (doc_id, entity_id)

per increment:
1. normalize the new docs; a doc stored with a different norm_text or
   phashes is CHANGED and goes through ``delete_docs`` first;
2. block the new docs (band keys depend only on the doc itself, so they
   equal the batch pipeline's keys) → upsert one row per doc, which
   replaces a changed doc's text, hash and keys together;
3. candidate pairs: all stored docs sharing a block key TOUCHED by the
   increment (left-semi prune), capped/salted by the same pair machinery,
   then filtered to pairs with ≥1 increment endpoint — old↔old pairs were
   decided in their own increment and scores never change;
4. score those pairs against the stored features (vectorized cascade);
5. re-cluster ONLY the affected subgraph: new match edges ∪ the
   member→entity edges of every entity touched by a match or containing an
   increment doc.  entity_id = min(doc_id) of the component, so merging two
   old entities through a new bridge doc yields exactly the id a full batch
   run would (tests/test_ingest_increment.py);
6. upsert the affected assignments into the entity table.

Deletions (``delete_docs``) re-resolve the affected entities from the
stored features, so bridge-doc removals SPLIT entities and min-doc removals
re-root them, as a from-scratch batch run would (tests/test_delete.py).

Scale: each step touches O(increment + blast radius), never the corpus.
Caveat: block-size caps sample by xxhash rank over whichever docs are
PRESENT, so over-cap blocks may sample differently than a from-scratch
batch run — under-cap corpora are bit-equivalent.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediachain_indexer_spark.operators.blocking import build_blocks
from mediachain_indexer_spark.operators.cluster import (
    attach_components,
    connected_components,
)
from mediachain_indexer_spark.operators.normalize import normalize_documents
from mediachain_indexer_spark.operators.pairs import candidate_pairs
from mediachain_indexer_spark.operators.scoring import score_pairs
from mediachain_indexer_spark.sources.merge import (
    _table_exists,
    delete_rows,
    read_entities,
    upsert_entities,
)


@dataclass(frozen=True)
class EntityStore:
    root: str
    n_buckets: int = 16

    @property
    def features(self) -> str:
        return os.path.join(self.root, "features")

    @property
    def entities(self) -> str:
        return os.path.join(self.root, "entities")


_FEATURES_SCHEMA = (
    "doc_id string, norm_text string, phashes array<long>, "
    "exact_hash long, block_keys array<string>"
)


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Store read with the table's declared schema: no inference job, and a
    fully-deleted table (no bucket dirs left) reads as an empty frame."""
    if not _table_exists(path):
        return spark.createDataFrame([], schema)
    return read_entities(spark, path, schema)


def _block_table(feats: DataFrame) -> DataFrame:
    """Stored rows → the batch block table (block_key, doc_id, exact_hash)."""
    return feats.select(F.explode("block_keys").alias("block_key"), "doc_id", "exact_hash")


def read_store_entities(spark: SparkSession, store: EntityStore) -> DataFrame:
    """Current (doc_id, entity_id) table (empty frame if nothing ingested)."""
    return _read_or_empty(spark, store.entities, "doc_id string, entity_id string")


def ingest_increment(docs_inc: DataFrame, store: EntityStore) -> dict:
    """Fold one increment of spans-shaped documents into the store."""
    spark = docs_inc.sparkSession

    feats_inc = (
        normalize_documents(docs_inc)
        .select("doc_id", "norm_text", "phashes")
        .dropDuplicates(["doc_id"])
        .persist()
    )

    # a doc stored with other content is CHANGED: it leaves the store first,
    # its ids PINNED before any write (delete_docs rewrites what this reads)
    stored = _read_or_empty(spark, store.features, _FEATURES_SCHEMA)
    same = [feats_inc[c].eqNullSafe(stored[c]) for c in ("norm_text", "phashes")]
    is_changed = stored.doc_id.isNotNull() & ~(same[0] & same[1])
    flagged = feats_inc.join(stored, feats_inc.doc_id == stored.doc_id, "left")
    n_inc, n_changed = flagged.agg(F.count(F.lit(1)), F.count(F.when(is_changed, 1))).first()
    if n_changed:
        changed = flagged.where(is_changed).select(feats_inc.doc_id).localCheckpoint()
        delete_docs(changed, store)

    blocks_inc = build_blocks(feats_inc).persist()
    keys = blocks_inc.groupBy("doc_id").agg(
        F.first("exact_hash").alias("exact_hash"),
        F.collect_list("block_key").alias("block_keys"),
    )
    rows = feats_inc.join(keys, "doc_id", "left").withColumn(
        "block_keys", F.coalesce("block_keys", F.array().cast("array<string>"))
    )
    upsert_entities(rows, store.features, "doc_id", store.n_buckets)

    # candidates: stored docs sharing any block key the increment touched
    feats_all = _read_or_empty(spark, store.features, _FEATURES_SCHEMA)
    touched_keys = blocks_inc.select("block_key").distinct()
    cand_blocks = _block_table(feats_all).join(touched_keys, "block_key", "left_semi")
    pairs = candidate_pairs(cand_blocks)

    inc_ids = feats_inc.select("doc_id").persist()
    pa = pairs.join(inc_ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
    pb = pairs.join(inc_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
    inc_pairs = pa.unionByName(pb).dropDuplicates(["doc_a", "doc_b"])

    scored = score_pairs(inc_pairs, feats_all).persist()
    matches = scored.where(F.col("is_match")).select("doc_a", "doc_b")
    n_pairs, n_matches = scored.agg(
        F.count(F.lit(1)), F.count(F.when(F.col("is_match"), 1))
    ).first()

    # bounded re-cluster: increment docs + every member of a touched entity
    existing = read_store_entities(spark, store)
    match_docs = (
        matches.select(F.col("doc_a").alias("doc_id"))
        .unionByName(matches.select(F.col("doc_b").alias("doc_id")))
        .unionByName(inc_ids)
        .distinct()
    )
    touched_ents = existing.join(match_docs, "doc_id", "left_semi").select(
        "entity_id"
    ).distinct()
    members = existing.join(touched_ents, "entity_id", "left_semi")
    member_edges = members.where(F.col("doc_id") != F.col("entity_id")).select(
        F.col("doc_id").alias("doc_a"), F.col("entity_id").alias("doc_b")
    )
    edges = matches.unionByName(member_edges)
    comps = connected_components(edges)
    affected = match_docs.unionByName(members.select("doc_id")).distinct()
    assign = attach_components(affected, comps)
    sink_stats = upsert_entities(assign, store.entities, "doc_id", store.n_buckets)

    stats = {
        "n_docs_in": n_inc,
        "n_docs_changed": n_changed,
        "n_pairs_scored": n_pairs,
        "n_matches": n_matches,
        "n_docs_reassigned": sink_stats["n_upserted"],
        "sink": sink_stats,
    }
    for df in (feats_inc, blocks_inc, inc_ids, scored):
        df.unpersist()
    return stats


def delete_docs(del_ids: DataFrame, store: EntityStore) -> dict:
    """Remove documents from the store and re-resolve the affected entities.

    Deletion is the HARD mutation for transitive clustering: removing a
    bridge document must SPLIT the entity it held together (A~B, B~C with
    A≁C collapses to {A}, {C} when B goes), and removing an entity's
    canonical-min doc must re-root the survivors.  Neither is derivable
    from the assignment table alone, so the affected subgraph is re-scored:

    1. affected entities = entities containing any deleted doc;
    2. remaining members = their members minus the deleted docs;
    3. candidate pairs among the remaining members only (the block keys of
       their stored rows, same cap/salt machinery), re-scored from those
       rows — deletion can't create edges to UNtouched entities (any such
       match would already have merged them);
    4. connected components over the surviving matches → new assignments
       (entity_id = min(doc_id) re-roots automatically);
    5. store mutations: rows deleted from features and entities
       (bucket-scoped MERGE DELETE), new assignments upserted.

    Equivalence contract (tests/test_delete.py): after any delete, the
    store's entity table equals the one-shot batch pipeline on the
    remaining corpus — exact ids, including splits (same over-cap caveat
    as ``ingest_increment``).
    """
    spark = del_ids.sparkSession
    del_ids = del_ids.select("doc_id").distinct().persist()

    existing = read_store_entities(spark, store)
    touched_ents = existing.join(del_ids, "doc_id", "left_semi").select(
        "entity_id"
    ).distinct()
    members = existing.join(touched_ents, "entity_id", "left_semi")
    remaining = members.join(del_ids, "doc_id", "left_anti").select("doc_id").persist()

    feats_all = _read_or_empty(spark, store.features, _FEATURES_SCHEMA)
    rem_blocks = _block_table(feats_all).join(remaining, "doc_id", "left_semi")
    pairs = candidate_pairs(rem_blocks)
    scored = score_pairs(pairs, feats_all).persist()
    matches = scored.where(F.col("is_match")).select("doc_a", "doc_b")
    n_pairs = scored.count()

    comps = connected_components(matches)
    # PIN the new assignments BEFORE any store mutation: assign reads the
    # tables the delete_rows calls below REWRITE, and post-delete state (the
    # deleted doc no longer marks its entity) would drop every reassignment
    n_requested = del_ids.count()
    assign = attach_components(remaining, comps).localCheckpoint()

    d_feats = delete_rows(spark, store.features, "doc_id", del_ids)
    d_ents = delete_rows(spark, store.entities, "doc_id", del_ids)
    sink_stats = upsert_entities(assign, store.entities, "doc_id", store.n_buckets)

    stats = {
        "n_requested": n_requested,
        "n_deleted": d_ents["n_deleted"],
        "n_docs_in_store_deleted": d_feats["n_deleted"],
        "n_pairs_rescored": n_pairs,
        "n_docs_reassigned": sink_stats["n_upserted"],
        "sink": sink_stats,
    }
    for df in (del_ids, remaining, scored):
        df.unpersist()
    return stats
