"""Cluster-level validation of the adopted scoring thresholds at scale.

Runs the full ER pipeline on a seeded fixture corpus and reports BOTH
acceptance views of quality:

- **cluster-level pairwise P/R/F1 vs the fixture's generative ground truth**
  (``expected_clusters.parquet``) — computed combinatorially (sum of
  C(n,2) over predicted / true / intersection groups), so no pair table is
  ever materialized: exact at any corpus size;
- **pairwise F1 on labeled pairs at shared blocking keys** (the north-rule
  acceptance metric, plans/eval.pairwise_f1).

This committed tool regenerates the evidence for the ADOPTED config on
demand; the default size fits a 4-core / 15 GB host:

    python tools/validate_thresholds.py [n_docs]   # default 100,000

Writes ``BENCH/VALIDATE_THRESHOLDS_<n_docs>.json`` and prints the JSON.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def cluster_pairwise_f1(pred, truth) -> dict:
    """Exact pairwise P/R/F1 of a clustering vs ground truth WITHOUT
    materializing pairs: TP = Σ_{(c,e)} C(n_ce,2) over the contingency
    groups, pred-pairs = Σ_c C(n_c,2), true-pairs = Σ_e C(n_e,2)."""
    from pyspark.sql import functions as F

    def npairs(df, *keys):
        return (
            df.groupBy(*keys)
            .count()
            .select(F.sum(F.expr("count * (count - 1) / 2")).alias("p"))
            .collect()[0]["p"]
            or 0
        )

    both = pred.join(truth, "doc_id")
    tp = float(npairs(both, "entity_id", "true_entity"))
    pp = float(npairs(pred, "entity_id"))
    tt = float(npairs(truth, "true_entity"))
    prec = tp / pp if pp else 1.0
    rec = tp / tt if tt else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {
        "tp_pairs": tp,
        "pred_pairs": pp,
        "true_pairs": tt,
        "cluster_precision": prec,
        "cluster_recall": rec,
        "cluster_f1": f1,
    }


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    from pyspark.sql import functions as F

    from mediachain_indexer_spark.operators import scoring
    from mediachain_indexer_spark.plans.eval import pairwise_f1
    from mediachain_indexer_spark.plans.pipeline import run_pipeline
    from mediachain_indexer_spark.session import get_spark
    from mediachain_indexer_spark.sources.fixtures import write_corpus
    from mediachain_indexer_spark.sources.io import read_documents

    spark = get_spark(app_name=f"validate-thresholds-{n_docs}")
    spark.sparkContext.setLogLevel("ERROR")

    paths = write_corpus(os.path.join(REPO, ".cache", f"fx{n_docs}"), n_docs)
    docs = read_documents(spark, paths["spans_documents"])

    t0 = time.monotonic()
    res = run_pipeline(docs)
    truth = (
        spark.read.parquet(paths["expected_clusters"])
        .withColumnRenamed("entity_id", "true_entity")
    )
    cl = cluster_pairwise_f1(res.clusters, truth)
    labels = spark.read.parquet(paths["labeled_pairs"])
    pw = pairwise_f1(labels, res.blocks, res.clusters)
    wall = time.monotonic() - t0

    out = {
        "n_docs": n_docs,
        "config": {
            "hamming_radius": scoring.HAMMING_RADIUS,
            "floor": scoring.TEXT_FLOOR,
            "tau": scoring.TEXT_ONLY_THRESHOLD,
        },
        "n_matches": res.matches.count(),
        "n_entities": res.clusters.select("entity_id").distinct().count(),
        **cl,
        "labeled_pairwise": {k: float(v) for k, v in pw.items()},
        "wall_sec": round(wall, 1),
    }
    path = os.path.join(REPO, "BENCH", f"VALIDATE_THRESHOLDS_{n_docs}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
