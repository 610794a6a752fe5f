"""Seeded spans corpora for the ER workloads.

The duplicate-cluster structure is the repository's canonical fixture corpus
(``sources.fixtures.generate_corpus`` defaults, as the tests use); the
workload seed relabels doc ids and shuffles row order.  Every seed is then a
different input with the same amount of ER work.  Drawing the heavy-tailed
cluster sizes per seed instead makes the in-cluster pair count, and with it
the work, vary 2.4x between seeds at 2000 docs.
"""

from __future__ import annotations

import os
import random

import pyarrow.parquet as pq

from mediachain_indexer_spark.sources.fixtures import (
    Corpus,
    corpus_to_arrow,
    generate_corpus,
)


def relabeled(n_docs: int, seed: int) -> Corpus:
    base = generate_corpus(n_docs)
    rng = random.Random(seed)
    ids = sorted(d for d, _ in base.docs)
    shuffled = list(ids)
    rng.shuffle(shuffled)
    new = dict(zip(ids, shuffled))
    docs = [(new[d], spans) for d, spans in base.docs]
    rng.shuffle(docs)
    root: dict[str, str] = {}
    for d, e in base.expected_clusters:
        root[e] = min(root.get(e, new[d]), new[d])
    return Corpus(
        docs=docs,
        labeled_pairs=[(*sorted((new[a], new[b])), m) for a, b, m in base.labeled_pairs],
        expected_clusters=[(new[d], root[e]) for d, e in base.expected_clusters],
        entities=base.entities,
    )


def write(out_dir: str, n_docs: int, seed: int) -> dict[str, str]:
    """Materialize the corpus once per (n_docs, seed).  Documents are split
    into many part files, as fixtures.write_corpus does, so narrow stages get
    one task per core."""
    paths = {
        name: os.path.join(out_dir, f"{name}.parquet")
        for name in ("spans_documents", "labeled_pairs", "expected_clusters")
    }
    marker = os.path.join(out_dir, ".done")
    if os.path.exists(marker):
        return paths
    rows_per_file = max(256, n_docs // 64)
    for name, table in corpus_to_arrow(relabeled(n_docs, seed)).items():
        if name != "spans_documents":
            os.makedirs(out_dir, exist_ok=True)
            pq.write_table(table, paths[name])
            continue
        os.makedirs(paths[name], exist_ok=True)
        for i in range(0, table.num_rows, rows_per_file):
            part = os.path.join(paths[name], f"part-{i // rows_per_file:05d}.parquet")
            pq.write_table(table.slice(i, rows_per_file), part)
    with open(marker, "w") as f:
        f.write("ok\n")
    return paths
