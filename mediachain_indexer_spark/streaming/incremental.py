"""Structured Streaming surface: incremental ingest + windowed aggregations.

Parity: the reference ingests incrementally — new dataset records are
normalized, hashed, and upserted into ES as they arrive
(``mediachain/indexer/mc_ingest.py`` bulk/streaming ingestion; the
``/record_dupes`` feedback endpoint of ``mc_web.py`` appends labels).
Spark-first: a ``readStream → foreachBatch`` micro-batch loop where each
batch flows through the SAME batch operators (normalize → block vs the
existing corpus → score → incremental cluster update), plus watermarked
windowed aggregations for the monitoring/metrics stream.

These functions return *unstarted* streaming DataFrames/queries so callers
(tests, jobs) control trigger + sink.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Windowed aggregations over an events stream (ts, event_type, user_id, value)
# ---------------------------------------------------------------------------


def events_tumbling_counts(stream: DataFrame, minutes: int = 10) -> DataFrame:
    """Tumbling-window counts with a 1-hour watermark for late data."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", f"{minutes} minutes").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def events_sliding_counts(
    stream: DataFrame, length_min: int = 10, slide_min: int = 5
) -> DataFrame:
    """Sliding-window distinct-user counts (approx, for the metrics board)."""
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", f"{length_min} minutes", f"{slide_min} minutes").alias("w"))
        .agg(F.approx_count_distinct("user_id").alias("approx_users"))
        .select(F.col("w.start").alias("window_start"), "approx_users")
    )


def events_session_window(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session windows per user (gap-based), watermarked.

    Session-window aggregations only support APPEND output mode: a session
    row emits once the watermark passes the session's end.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_dedup_within_watermark(stream: DataFrame) -> DataFrame:
    """Stateful streaming dedup on doc_id within the watermark horizon —
    the streaming analog of the batch dropDuplicates hygiene step."""
    return stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["doc_id"]
    )


def stream_exact_dedup_counts(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): running
    exact-duplicate GROUPS over a document stream.

    ``dropDuplicatesWithinWatermark`` can only *drop* repeats; the reference's
    dedup semantics (operators/dedup.exact_duplicates) are group-shaped —
    who arrived first, how many copies exist.  Per normalized-text key the
    state carries (first_doc_id, n_seen); each micro-batch that touches a
    key emits the updated (text_key, first_doc_id, n_seen) row (update mode).

    The key is the JVM-computed ``xxhash64(norm_text(text))`` so state stays
    a 64-bit key + tiny tuple — at web scale the state store holds
    O(distinct texts in horizon) entries, not documents.  NoTimeout keeps
    the demo simple; production sets a watermark + EventTimeTimeout to
    expire cold keys.
    """
    import pandas as pd

    from mediachain_indexer_spark.functions.text import norm_text

    keyed = stream.select(
        F.xxhash64(norm_text(F.col(text_col))).alias("text_key"),
        F.col("doc_id").cast("string").alias("doc_id"),
    )

    def update_groups(key, pdfs, state):
        if state.exists:
            first_doc, n_seen = state.get
        else:
            first_doc, n_seen = None, 0
        for pdf in pdfs:
            # min-doc_id representative, like the batch operator
            for doc in pdf["doc_id"]:
                first_doc = doc if first_doc is None else min(first_doc, doc)
                n_seen += 1
        state.update((first_doc, n_seen))
        yield pd.DataFrame(
            {"text_key": [key[0]], "first_doc_id": [first_doc], "n_seen": [n_seen]}
        )

    return keyed.groupBy("text_key").applyInPandasWithState(
        update_groups,
        outputStructType="text_key long, first_doc_id string, n_seen long",
        stateStructType="first_doc_id string, n_seen long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Incremental dedupe ingest (foreachBatch over the batch pipeline)
# ---------------------------------------------------------------------------


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
