"""Structured Streaming surface: incremental entity-resolution ingest.

Parity: the reference ingests incrementally — new dataset records are
normalized, hashed, and upserted into ES as they arrive
(``mediachain/indexer/mc_ingest.py`` bulk/streaming ingestion).
Spark-first: a ``readStream → foreachBatch`` micro-batch loop where each
batch flows through the SAME batch operators (plans/ingest.ingest_increment:
normalize → block against the existing corpus → score → incremental
cluster update → MERGE into the entity store).

These functions return *unstarted* stream writers so callers (tests,
``jobs/ingest_stream_job.py``) control the trigger.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def incremental_dedupe_stream(
    docs_stream: DataFrame,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
):
    """Wire a spans-shaped documents stream into the batch pipeline.

    Each micro-batch is handed to ``process_batch(batch_df, batch_id)``; the
    expected implementation normalizes + blocks the increment against the
    existing corpus and merges accepted matches into the entity table
    (MERGE INTO on Iceberg in prod).  Returns the unstarted StreamingQuery
    builder so the caller picks trigger/output mode.
    """
    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def entity_ingest_stream(
    docs_stream: DataFrame,
    store_root: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
):
    """The full incremental-ER ingest as a stream: each micro-batch of
    spans documents runs plans/ingest.ingest_increment against the
    persistent store (features/entities, MERGE-upserted), so the
    entity table converges to exactly the batch pipeline's answer as
    increments arrive (equivalence: tests/test_ingest_increment.py).
    Streaming checkpoint + per-key MERGE idempotence together give
    effectively-once ingest under at-least-once batch replay."""
    from mediachain_indexer_spark.plans.ingest import EntityStore, ingest_increment

    store = EntityStore(store_root, n_buckets)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ingest_increment(batch_df, store)

    return incremental_dedupe_stream(docs_stream, process, checkpoint_dir)
