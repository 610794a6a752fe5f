"""End-to-end entity-resolution pipeline (Entry A in SURVEY.md §3.2):

    read → normalize → block → pairs → score → cluster → entity table

Parity: this is the reference's batch ``dedupe_reindex`` lifecycle
(``mediachain/indexer/mc_dedupe.py``: ES scroll-scan → hash/band candidate
groups → pairwise score → driver-memory union-find → bulk write-back)
rebuilt as a fully distributed DataFrame program — no driver-side loops over
data, no per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mediachain_indexer_spark.operators.blocking import BlockingConfig, build_blocks
from mediachain_indexer_spark.operators.cluster import (
    attach_components,
    connected_components,
)
from mediachain_indexer_spark.operators.normalize import normalize_documents
from mediachain_indexer_spark.operators.pairs import PairsConfig, candidate_pairs
from mediachain_indexer_spark.operators.scoring import ScoringConfig, score_pairs
from mediachain_indexer_spark.plans.checkpoint import StageRunner


@dataclass(frozen=True)
class PipelineConfig:
    blocking: BlockingConfig = field(default_factory=BlockingConfig)
    pairs: PairsConfig = field(default_factory=PairsConfig)
    scoring: ScoringConfig = field(default_factory=ScoringConfig)


@dataclass
class PipelineResult:
    features: DataFrame  # (doc_id, norm_text, phashes)
    blocks: DataFrame  # (block_key, doc_id)
    pairs: DataFrame  # (doc_a, doc_b)
    scored: DataFrame  # (doc_a, doc_b, jw, lev_sim, text_sim, min_hamming, ...)
    matches: DataFrame  # scored.filter(is_match)
    clusters: DataFrame  # (doc_id, entity_id)
    sink_stats: dict | None = None  # upsert stats when entity_sink was given


def run_pipeline(
    docs: DataFrame,
    cfg: PipelineConfig = PipelineConfig(),
    runner: StageRunner | None = None,
    entity_sink: str | None = None,
) -> PipelineResult:
    """documents(doc_id, spans) → PipelineResult.

    With a ``runner`` every stage checkpoints (resume at block / score /
    cluster granularity); without, stages stay lazy except the CC loop and
    the features cache.

    ``entity_sink``: optional path of the canonical entity table; the final
    (doc_id, entity_id) assignments are MERGE-upserted into it by doc_id
    (sources/merge.upsert_entities — the reference's idempotent cluster
    writeback, Iceberg MERGE INTO in prod), so successive incremental runs
    converge on one table instead of overwriting it wholesale.
    """
    norm = normalize_documents(docs)
    features = norm.select("doc_id", "norm_text", "phashes")

    if runner is not None:
        features = runner.run("normalize", lambda: features, key_col="doc_id")
        blocks = runner.run(
            "block", lambda: build_blocks(features, cfg.blocking), key_col="block_key"
        )
        pairs = runner.run(
            "pairs", lambda: candidate_pairs(blocks, cfg.pairs), key_col="doc_a"
        )
        scored = runner.run(
            "score", lambda: score_pairs(pairs, features, cfg.scoring), key_col="doc_a"
        )
        matches = scored.where(F.col("is_match"))
        clusters = runner.run(
            "cluster",
            lambda: attach_components(features, connected_components(matches)),
            key_col="entity_id",
        )
    else:
        features = features.persist()
        blocks = build_blocks(features, cfg.blocking)
        pairs = candidate_pairs(blocks, cfg.pairs)
        # persist the scored edges: the CC loop, the match filter, and any
        # caller-side count all re-read them — without this the whole
        # scan→block→pair→score DAG re-executes per action
        scored = score_pairs(pairs, features, cfg.scoring).persist()
        matches = scored.where(F.col("is_match"))
        clusters = attach_components(features, connected_components(matches))

    sink_stats = None
    if entity_sink is not None:
        from mediachain_indexer_spark.sources.merge import upsert_entities

        sink_stats = upsert_entities(clusters, entity_sink, key_col="doc_id")

    return PipelineResult(
        features, blocks, pairs, scored, matches, clusters, sink_stats
    )
