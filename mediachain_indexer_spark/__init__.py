"""mediachain_indexer_spark — a from-scratch PySpark-native entity-resolution
engine with the query / data-processing capabilities of
``mediachain/mediachain-indexer`` (reference: a 2016-era Python-2.7 +
Elasticsearch media-dedupe service; see SURVEY.md §0 for provenance — the
local reference tree is empty, so all parity claims cite reconstructed module
names, e.g. ``mediachain/indexer/mc_dedupe.py``).

Architecture (Spark-first, NOT a port):

- ``sources``   — parquet/iceberg readers with explicit schemas; deterministic
                  spans-corpus fixture generator (seed=42).
- ``functions`` — column-expression builders: text normalization chains,
                  perceptual-hash stand-ins, and the vectorized Arrow
                  pandas_udfs (numpy MinHash kernel, Jaro-Winkler).
- ``operators`` — blocking (LSH bands + pHash buckets, salting + size cap),
                  candidate-pair generation, pairwise scoring, large-star /
                  small-star connected components, dedup / similarity /
                  text-analysis operators over the driver tables.
- ``plans``     — end-to-end pipeline orchestration, checkpoint/lineage
                  tables, resume logic, evaluation (pairwise P/R/F1).
- ``streaming`` — Structured Streaming ``foreachBatch`` incremental ingest.
"""

__version__ = "0.1.0"
