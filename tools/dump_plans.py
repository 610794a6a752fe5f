"""Regenerate PLANS.md: formatted physical plans of the flagship pipeline
stages and the round-2 operators, from the 500-doc fixture corpus.

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADER = """# PLANS — formatted physical plans of the flagship pipeline stages

Generated by `tools/dump_plans.py` from `.explain('formatted')` on the
500-doc corpus; structure is scale-independent (AQE re-plans sizes at
runtime).  What to look for:
- normalize: single WholeStageCodegen projection over the scan, no shuffle;
- block: ArrowEvalPython = the ONE vectorized MinHash UDF, then explode;
- pairs: the cap window (exchange hashpartitioning(block_key) → sort →
  Window) runs once inside the persisted staged table (InMemoryRelation),
  and both sides of the merge-hinted SortMergeJoin read that cache — no
  broadcast of the staged table;
- score: BroadcastHashJoin for the two feature attachments (flips to SMJ at
  scale via AQE stats), ArrowEvalPython = the Jaro-Winkler UDF only, its
  two inputs null wherever the scorer's gate skips the pair;
- ngram_jaccard: equi-joins only (no CartesianProduct / nested-loop);
- ivf_topk: ArrowEvalPython cell assignment + BroadcastHashJoin probe —
  the corpus never shuffles before the per-query top-k window.
"""


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    from pyspark.sql import functions as F

    from mediachain_indexer_spark.operators.blocking import build_blocks
    from mediachain_indexer_spark.operators.dedup import ngram_jaccard_pairs
    from mediachain_indexer_spark.operators.normalize import normalize_documents
    from mediachain_indexer_spark.operators.pairs import candidate_pairs
    from mediachain_indexer_spark.operators.scoring import score_pairs
    from mediachain_indexer_spark.operators.similarity import ivf_topk
    from mediachain_indexer_spark.session import get_spark
    from mediachain_indexer_spark.sources.fixtures import write_corpus
    from mediachain_indexer_spark.sources.io import read_documents

    spark = get_spark(app_name="dump-plans", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    paths = write_corpus(os.path.join(REPO, ".cache", "fx500"), 500)
    docs = read_documents(spark, paths["spans_documents"])

    feats = normalize_documents(docs).select("doc_id", "norm_text", "phashes")
    blocks = build_blocks(feats)
    pairs = candidate_pairs(blocks)
    scored = score_pairs(pairs, feats)

    flat = docs.select(
        "doc_id", F.expr("spans[0].text").alias("text")
    ).where(F.col("text").isNotNull())
    ngram = ngram_jaccard_pairs(flat.limit(50))

    import numpy as np

    emb = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(16)],
        "vec_id long, embedding array<float>",
    )
    centroids = np.asarray([[1.0, 0.0], [0.0, 1.0]])
    ivf = ivf_topk(
        emb, emb.where(F.col("vec_id") < 2), k=3, n_probe=2, centroids=centroids
    )

    sections = [
        ("normalize+features", feats),
        ("blocks", blocks),
        ("candidate_pairs", pairs),
        ("scored", scored),
        ("ngram_jaccard (co-gram equi-join)", ngram),
        ("ivf_topk (probe join + refine)", ivf),
    ]
    out = [HEADER]
    for title, df in sections:
        out.append(f"\n## {title}\n\n```\n{plan_of(df)}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("PLANS.md written:", sum(len(s) for s in out), "chars")
    spark.stop()


if __name__ == "__main__":
    main()
