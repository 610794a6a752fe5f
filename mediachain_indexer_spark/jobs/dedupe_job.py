"""Batch dedupe job — the spark-submit entrypoint for the full pipeline.

Parity: the reference's batch lifecycle is a CLI-invoked reindex+dedupe pass
(``mediachain/indexer/mc_dedupe.py`` ``dedupe_reindex``); here it is ONE
spark-submit job:

    spark-submit --master <cluster> \
        --driver-memory 16g \
        --py-files mediachain_indexer_spark.zip \
        mediachain_indexer_spark/jobs/dedupe_job.py \
        --input  /path/spans_documents.parquet \
        --entity-sink /path/entity_table \
        --run-dir /path/runs --run-id nightly-2026-08-16 \
        [--labels /path/labeled_pairs.parquet]

- the cluster master comes from spark-submit (``get_spark(set_master=False)``);
- every stage checkpoints through ``plans/checkpoint.StageRunner.run``,
  passed to ``run_pipeline`` as its stage hook → per-partition lineage +
  metrics, resumable at block/score/cluster granularity by re-running with
  the SAME --run-dir/--run-id;
- the final assignments MERGE-upsert into --entity-sink
  (``sources/merge.upsert_entities``; Iceberg ``MERGE INTO`` in prod);
- if --labels is given, pairwise P/R/F1 at shared blocking keys (the
  north-rule acceptance metric) is computed and included in the one-line
  JSON metrics report printed to stdout.
"""

from __future__ import annotations

import argparse
import json
import time


def run(spark, args) -> dict:
    """Execute the pipeline; returns the metrics dict (pure — no session
    management, so tests drive it with their own session)."""
    from pyspark.sql import functions as F

    from mediachain_indexer_spark.operators.pairs import PairsConfig
    from mediachain_indexer_spark.plans.checkpoint import StageRunner
    from mediachain_indexer_spark.plans.eval import pairwise_f1
    from mediachain_indexer_spark.plans.pipeline import run_pipeline
    from mediachain_indexer_spark.sources.io import read_documents

    t0 = time.monotonic()
    docs = read_documents(spark, args.input)
    runner = (
        StageRunner(spark, args.run_dir, args.run_id)
        if args.run_dir and args.run_id
        else None
    )
    res = run_pipeline(
        docs,
        PairsConfig(exact_strategy=getattr(args, "exact_strategy", "clique")),
        stage=runner.run if runner is not None else None,
        entity_sink=args.entity_sink,
    )

    metrics: dict = {
        "job": "dedupe",
        "run_id": args.run_id,
        "n_docs": res.clusters.count(),
        "n_entities": res.clusters.select("entity_id").distinct().count(),
        "n_matches": res.matches.count(),
        "sink": args.entity_sink,
        "sink_stats": res.sink_stats,
    }
    if args.labels:
        labels = spark.read.parquet(args.labels)
        m = pairwise_f1(labels, res.blocks, res.clusters)
        metrics["eval"] = {
            k: (round(v, 6) if isinstance(v, float) else v) for k, v in m.items()
        }
    if runner is not None:
        metrics["stages"] = [
            {
                "stage": r["stage"],
                "rows_out": int(r["rows_out"]),
                "wall_ms": int(r["wall_ms"]),
                "n_partitions": int(r["n_partitions"]),
            }
            for r in runner.stage_metrics()
            .where(F.col("stage").isNotNull())
            .collect()
        ]
    metrics["wall_sec"] = round(time.monotonic() - t0, 3)
    return metrics


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="spans documents parquet path")
    ap.add_argument("--entity-sink", default=None, help="MERGE target path")
    ap.add_argument("--run-dir", default=None, help="checkpoint root (resume)")
    ap.add_argument("--run-id", default=None, help="checkpoint run id (resume)")
    ap.add_argument("--labels", default=None, help="labeled pairs parquet (eval)")
    ap.add_argument(
        "--exact-strategy",
        default="clique",
        choices=("clique", "star"),
        help="exact-text groups as capped cliques (score-every-candidate "
        "parity) or uncapped min-rooted stars (linear cost on boilerplate "
        "mega-groups, no members dropped; cluster-identical under the cap)",
    )
    ap.add_argument("--app-name", default="mediachain-dedupe")
    args = ap.parse_args()

    from mediachain_indexer_spark.session import get_spark

    # master comes from spark-submit; local runs use spark.master conf/env
    spark = get_spark(app_name=args.app_name, set_master=False)
    try:
        print(json.dumps(run(spark, args)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
