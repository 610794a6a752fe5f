"""Upsert/MERGE writeback shim (sources/merge.py) — R2/R10 sink semantics."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mediachain_indexer_spark.sources.merge import (
    BUCKET_COL,
    delete_rows,
    read_entities,
    upsert_entities,
)


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "doc_id string, entity_id string")


def _snapshot(path):
    """(partition_dir → sorted file names) for every bucket directory."""
    out = {}
    for d in os.listdir(path):
        if d.startswith(BUCKET_COL + "="):
            out[d] = sorted(
                f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")
            )
    return out


def test_upsert_insert_update_and_idempotence(spark, tmp_path):
    target = str(tmp_path / "entities")
    # first write, 15 keys twice: n_upserted counts distinct keys written
    base = _rows(spark, [(f"d{i % 30}", f"e{i % 3}") for i in range(45)])
    stats = upsert_entities(base, target, "doc_id", n_buckets=4)
    assert stats["n_upserted"] == 30
    assert stats["n_buckets_touched"] == len(_snapshot(target))

    # update 2 keys, insert 1 new one
    upd = _rows(spark, [("d0", "eX"), ("d7", "eX"), ("d99", "eNew")])
    stats = upsert_entities(upd, target, "doc_id", n_buckets=4)
    assert stats["n_upserted"] >= 3
    got = {r["doc_id"]: r["entity_id"] for r in read_entities(spark, target).collect()}
    assert len(got) == 31
    assert got["d0"] == "eX" and got["d7"] == "eX" and got["d99"] == "eNew"
    assert got["d1"] == "e1"  # untouched key survives

    # idempotence: the same upsert twice leaves the table identical
    upsert_entities(upd, target, "doc_id", n_buckets=4)
    again = {r["doc_id"]: r["entity_id"] for r in read_entities(spark, target).collect()}
    assert again == got


def test_upsert_rewrites_only_affected_buckets(spark, tmp_path):
    target = str(tmp_path / "entities")
    base = _rows(spark, [(f"d{i}", "e0") for i in range(200)])
    upsert_entities(base, target, "doc_id", n_buckets=8)
    before = _snapshot(target)
    assert len(before) == 8  # all buckets materialized

    one = _rows(spark, [("d5", "eZ")])
    stats = upsert_entities(one, target, "doc_id", n_buckets=8)
    assert stats["n_buckets_touched"] == 1
    after = _snapshot(target)
    changed = [d for d in before if before[d] != after[d]]
    assert len(changed) == 1  # dynamic overwrite touched exactly one bucket dir
    got = {r["doc_id"]: r["entity_id"] for r in read_entities(spark, target).collect()}
    assert got["d5"] == "eZ" and len(got) == 200


def test_pipeline_entity_sink_double_run_idempotent(spark, docs500, tmp_path):
    from mediachain_indexer_spark.plans.pipeline import run_pipeline

    target = str(tmp_path / "entity_table")
    res1 = run_pipeline(docs500, entity_sink=target)
    assert res1.sink_stats is not None and res1.sink_stats["n_upserted"] == 500
    t1 = read_entities(spark, target)
    assert t1.count() == 500

    # second identical run MERGEs the same assignments — no dupes, no churn
    res2 = run_pipeline(docs500, entity_sink=target)
    t2 = read_entities(spark, target)
    assert t2.count() == 500
    assert t2.select(F.countDistinct("doc_id").alias("n")).collect()[0]["n"] == 500


def test_delete_by_non_bucket_key(spark, tmp_path):
    """A table bucketed on a composite key, deleted by one of its parts
    (``doc_id``).  Only hit rows go, untouched buckets keep their files, and
    a bucket whose rows are all deleted is removed."""
    target = str(tmp_path / "table")
    rows = [(f"k{j}", f"d{i}", f"k{j}|d{i}") for i in range(30) for j in (i % 5, 5)]
    schema = "block_key string, doc_id string, composite string"
    upsert_entities(spark.createDataFrame(rows, schema), target, "composite", 16)
    before = _snapshot(target)
    stored = spark.read.parquet(target).collect()
    docs_in = {b: {r["doc_id"] for r in stored if r[BUCKET_COL] == b} for b in range(16)}
    gone = min((b for b in docs_in if docs_in[b]), key=lambda b: len(docs_in[b]))
    dead = docs_in[gone]  # every doc of the smallest bucket: it ends up empty
    touched = {f"{BUCKET_COL}={r[BUCKET_COL]}" for r in stored if r["doc_id"] in dead}

    keys = spark.createDataFrame([(d,) for d in sorted(dead) * 2], "doc_id string")
    stats = delete_rows(spark, target, "doc_id", keys)
    assert stats["n_deleted"] == sum(r["doc_id"] in dead for r in stored)
    assert stats["n_buckets_touched"] == len(touched)

    after = _snapshot(target)
    assert f"{BUCKET_COL}={gone}" not in after
    untouched = set(before) - touched
    assert untouched and all(after[d] == before[d] for d in untouched)
    left = {tuple(r) for r in read_entities(spark, target).collect()}
    assert left == {r for r in rows if r[1] not in dead}
