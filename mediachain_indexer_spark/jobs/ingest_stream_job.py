"""Streaming ingest job — the spark-submit entrypoint for incremental ER.

Parity: the reference's continuous ingest loop (``mediachain/indexer/
mc_ingest.py``) — new documents are normalized, hashed, candidate-matched
against the existing index and upserted with their entity assignment.  Here:

    spark-submit --master <cluster> --py-files mediachain_indexer_spark.zip \
        mediachain_indexer_spark/jobs/ingest_stream_job.py \
        --input-dir  /landing/spans_documents \
        --store      /warehouse/entity_store \
        --checkpoint /warehouse/_ckpt/ingest \
        [--available-now]

Each micro-batch runs plans/ingest.ingest_increment against the persistent
store (features / entities, MERGE-upserted); streaming checkpoint +
per-key MERGE idempotence give effectively-once ingest under at-least-once
replay.  ``--available-now`` drains what exists and exits (backfill mode);
without it the query runs until signalled.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input-dir", required=True, help="landing dir of spans parquet")
    ap.add_argument("--store", required=True, help="entity store root")
    ap.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    ap.add_argument("--max-files-per-trigger", type=int, default=16)
    ap.add_argument("--available-now", action="store_true")
    ap.add_argument("--app-name", default="mediachain-ingest-stream")
    args = ap.parse_args()

    from mediachain_indexer_spark.session import get_spark
    from mediachain_indexer_spark.sources.io import SPANS_SCHEMA
    from mediachain_indexer_spark.streaming.incremental import entity_ingest_stream

    spark = get_spark(app_name=args.app_name, set_master=False)
    stream = (
        spark.readStream.schema(SPANS_SCHEMA)
        .option("maxFilesPerTrigger", args.max_files_per_trigger)
        .parquet(args.input_dir)
    )
    writer = entity_ingest_stream(stream, args.store, args.checkpoint)
    if args.available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.start()
        q.awaitTermination()
    spark.stop()


if __name__ == "__main__":
    main()
