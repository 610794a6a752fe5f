"""Evaluation: pairwise precision / recall / F1 on labeled pairs at shared
blocking keys — the acceptance metric (BASELINE.json metric field).

Parity: the reference evaluates predicted duplicates against labeled
ground-truth pairs with precision/recall (``mediachain/indexer/
mc_eval.py``; its hyperparameter sweeps have no counterpart here, as the
scorer's thresholds are constants).  Same spirit here: labels join the
pipeline's block assignments (the metric's own "shared blocking key"
condition), predictions are "same final entity_id", TP/FP/FN come from one
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def coblocked_labels(labels: DataFrame, blocks: DataFrame) -> DataFrame:
    """Labeled pairs restricted to pairs sharing ≥1 blocking key."""
    ka = blocks.select(F.col("doc_id").alias("doc_a"), "block_key")
    kb = blocks.select(F.col("doc_id").alias("doc_b"), "block_key")
    return (
        labels.join(ka, "doc_a")
        .join(kb, ["doc_b", "block_key"])
        .select("doc_a", "doc_b", "is_match")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def pairwise_f1(
    labels: DataFrame, blocks: DataFrame, clusters: DataFrame
) -> dict[str, float]:
    """P/R/F1 of same-entity predictions over co-blocked labeled pairs."""
    eligible = coblocked_labels(labels, blocks)
    ca = clusters.select(F.col("doc_id").alias("doc_a"), F.col("entity_id").alias("ea"))
    cb = clusters.select(F.col("doc_id").alias("doc_b"), F.col("entity_id").alias("eb"))
    judged = (
        eligible.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("pred", F.col("ea") == F.col("eb"))
    )
    row = judged.agg(
        F.sum((F.col("is_match") & F.col("pred")).cast("long")).alias("tp"),
        F.sum((~F.col("is_match") & F.col("pred")).cast("long")).alias("fp"),
        F.sum((F.col("is_match") & ~F.col("pred")).cast("long")).alias("fn"),
        F.count("*").alias("n_eligible"),
    ).collect()[0]
    tp, fp, fn = int(row["tp"]), int(row["fp"]), int(row["fn"])
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp,
        "fp": fp,
        "fn": fn,
        "n_eligible": int(row["n_eligible"]),
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }


def blocking_recall(labels: DataFrame, blocks: DataFrame) -> float:
    """Fraction of labeled TRUE pairs that share ≥1 blocking key."""
    truth = labels.where(F.col("is_match"))
    total = truth.count()
    if total == 0:
        return 1.0
    hit = coblocked_labels(truth, blocks).count()
    return hit / total
