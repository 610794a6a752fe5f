"""Idempotent upsert (MERGE) sink — the R2/R10 writeback interface.

Parity: the reference's ingest and dedupe stages upsert documents / entity
assignments into Elasticsearch by ``_id`` (``mediachain/indexer/mc_ingest.py``
bulk upsert; ``mc_dedupe.py`` cluster writeback).  The Spark-native analog is
Iceberg ``MERGE INTO target USING updates ON key WHEN MATCHED UPDATE WHEN NOT
MATCHED INSERT``.

This sandbox has no Iceberg jar, so the same interface is implemented as a
*partition-scoped rewrite* over hive-partitioned parquet — which is exactly
what Iceberg's copy-on-write MERGE does under the hood:

- the target is partitioned by ``_bucket = pmod(xxhash64(key), n_buckets)``
  (prod: Iceberg hidden partitioning ``bucket(n_buckets, key)``);
- one small collect per call gives its touched buckets and counts;
- the touched buckets' new rows go through the one rewrite,
  ``_rewrite_buckets``: materialize, write once with dynamic partition
  overwrite, remove the buckets left empty.  Untouched buckets are never
  rewritten.  A missing table has no stored rows, so a first write is the
  same rewrite.  Every call is three Spark actions.

At 10^12 docs with n_buckets=4096, an incremental upsert touching 1% of keys
rewrites ~all buckets unless keys cluster — size n_buckets so a typical
increment's buckets × bucket size ≈ the data you're willing to rewrite;
Iceberg's merge-on-read mode removes even that rewrite in prod.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "_bucket"


def upsert_entities(
    updates: DataFrame,
    target_path: str,
    key_col: str = "doc_id",
    n_buckets: int = 16,
) -> dict[str, int]:
    """MERGE ``updates`` into the parquet table at ``target_path`` by key.

    Last-writer-wins per key (duplicate keys inside ``updates`` are reduced
    to one arbitrary-but-deterministic row first, like MERGE's
    cardinality check would force).  Idempotent: re-running the same upsert
    leaves the table unchanged.  Returns {n_upserted: distinct keys written,
    n_buckets_touched}.  Only the touched buckets are read.
    """
    bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
    upd = updates.dropDuplicates([key_col]).withColumn(BUCKET_COL, bucket).persist()
    per_bucket = upd.groupBy(BUCKET_COL).count().collect()
    buckets = [r[0] for r in per_bucket]
    rows = upd
    if _table_exists(target_path):
        stored = updates.sparkSession.read.parquet(target_path)
        rows = (
            stored.where(F.col(BUCKET_COL).isin(buckets))
            .join(upd.select(key_col), key_col, "left_anti")
            .unionByName(upd)
        )
    _rewrite_buckets(rows, target_path, buckets, emptied=[])
    upd.unpersist()
    n_keys = sum(r["count"] for r in per_bucket)
    return {"n_upserted": n_keys, "n_buckets_touched": len(buckets)}


def delete_rows(
    spark: SparkSession, target_path: str, key_col: str, keys: DataFrame
) -> dict[str, int]:
    """MERGE-style DELETE: remove every row whose ``key_col`` appears in
    ``keys`` (Iceberg ``DELETE FROM target WHERE key IN (...)`` in prod).

    ``key_col`` need not be the bucketing key (a table bucketed on a
    composite key can be deleted by one of its parts), so one scan of the
    table left-joined to the keys counts rows and hits per bucket: the rows
    deleted, the touched buckets and the emptied ones.  Idempotent:
    re-deleting the same keys is a no-op.
    """
    if not _table_exists(target_path):
        return {"n_deleted": 0, "n_buckets_touched": 0}
    keys = keys.select(key_col).distinct()
    stored = spark.read.parquet(target_path)
    per_bucket = (
        stored.join(keys.withColumn("_hit", F.lit(True)), key_col, "left")
        .groupBy(BUCKET_COL)
        .agg(F.count(F.lit(1)).alias("n_rows"), F.count("_hit").alias("n_hit"))
        .where(F.col("n_hit") > 0)
        .collect()
    )
    buckets = [r[0] for r in per_bucket]
    emptied = [r[0] for r in per_bucket if r["n_rows"] == r["n_hit"]]
    rows = stored.where(F.col(BUCKET_COL).isin(buckets)).join(keys, key_col, "left_anti")
    _rewrite_buckets(rows, target_path, buckets, emptied)
    n_hit = sum(r["n_hit"] for r in per_bucket)
    return {"n_deleted": n_hit, "n_buckets_touched": len(buckets)}


def _rewrite_buckets(
    rows: DataFrame, target_path: str, buckets: list[int], emptied: list[int]
) -> None:
    """Replace the touched ``buckets`` with ``rows``, their whole new
    contents: materialize (the write replaces files this plan reads;
    Iceberg snapshots make that a metadata swap in prod), write once, then
    remove the ``emptied`` buckets, which dynamic overwrite leaves as they
    were because ``rows`` has none of them."""
    if len(emptied) < len(buckets):
        (
            rows.localCheckpoint()
            .write.partitionBy(BUCKET_COL)
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(target_path)
        )
    for b in emptied:
        shutil.rmtree(f"{target_path}/{BUCKET_COL}={b}", ignore_errors=True)


def read_entities(
    spark: SparkSession, target_path: str, schema: str | None = None
) -> DataFrame:
    """Read back the upsert target without the internal bucket column.

    A declared ``schema`` (the table's columns, without the bucket column)
    skips parquet schema inference, a Spark job per read."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(target_path).drop(BUCKET_COL)


def _table_exists(path: str) -> bool:
    return os.path.isdir(path) and any(
        name.startswith(BUCKET_COL + "=") for name in os.listdir(path)
    )
