"""End-to-end entity-resolution pipeline (Entry A in SURVEY.md §3.2):

    read → normalize → block → pairs → score → cluster → entity table

Parity: this is the reference's batch ``dedupe_reindex`` lifecycle
(``mediachain/indexer/mc_dedupe.py``: ES scroll-scan → hash/band candidate
groups → pairwise score → driver-memory union-find → bulk write-back)
rebuilt as a fully distributed DataFrame program — no driver-side loops over
data, no per-row Python.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mediachain_indexer_spark.operators.blocking import build_blocks
from mediachain_indexer_spark.operators.cluster import (
    attach_components,
    connected_components,
)
from mediachain_indexer_spark.operators.normalize import normalize_documents
from mediachain_indexer_spark.operators.pairs import PairsConfig, candidate_pairs
from mediachain_indexer_spark.operators.scoring import score_pairs

# stage(name, build, key_col) -> frame; StageRunner.run has this shape
StageHook = Callable[[str, Callable[[], DataFrame], str], DataFrame]


def _build(name: str, build: Callable[[], DataFrame], key_col: str) -> DataFrame:
    return build()


@dataclass
class PipelineResult:
    features: DataFrame  # (doc_id, norm_text, phashes)
    blocks: DataFrame  # (block_key, doc_id, exact_hash)
    pairs: DataFrame  # (doc_a, doc_b)
    scored: DataFrame  # (doc_a, doc_b, jw, lev_sim, text_sim, min_hamming, ...)
    matches: DataFrame  # scored.filter(is_match)
    clusters: DataFrame  # (doc_id, entity_id)
    sink_stats: dict | None = None  # upsert stats when entity_sink was given


def run_pipeline(
    docs: DataFrame,
    pairs_cfg: PairsConfig = PairsConfig(),
    stage: StageHook | None = None,
    entity_sink: str | None = None,
) -> PipelineResult:
    """documents(doc_id, spans) → PipelineResult.

    Each stage's frame comes from ``stage(name, build, key_col)``, called
    in the order normalize, block, pairs, score, cluster.  ``build`` is a
    thunk, so a hook that already holds the stage's output never builds it
    (the cluster thunk runs the eager CC loop).  The default hook returns
    ``build()``: every stage stays lazy except the CC loop.  Pass
    ``stage=StageRunner(...).run`` to checkpoint every stage and resume at
    block / score / cluster granularity.  Whatever the hook returns,
    ``features`` and ``scored`` are persisted: the CC loop, the match
    filter and the cluster attach all re-read them, and without the cache
    the whole scan→block→pair→score DAG re-executes per action.

    ``pairs_cfg`` sets the candidate-pair cap and the exact-text strategy
    (operators/pairs.PairsConfig); blocking and scoring have no settings
    beyond their module constants.

    ``entity_sink``: optional path of the canonical entity table; the final
    (doc_id, entity_id) assignments are MERGE-upserted into it by doc_id
    (sources/merge.upsert_entities — the reference's idempotent cluster
    writeback, Iceberg MERGE INTO in prod), so successive incremental runs
    converge on one table instead of overwriting it wholesale.
    """
    stage = stage or _build
    features = stage(
        "normalize",
        lambda: normalize_documents(docs).select("doc_id", "norm_text", "phashes"),
        "doc_id",
    ).persist()
    blocks = stage("block", lambda: build_blocks(features), "block_key")
    pairs = stage("pairs", lambda: candidate_pairs(blocks, pairs_cfg), "doc_a")
    scored = stage("score", lambda: score_pairs(pairs, features), "doc_a").persist()
    matches = scored.where(F.col("is_match"))
    clusters = stage(
        "cluster",
        lambda: attach_components(features, connected_components(matches)),
        "entity_id",
    )

    sink_stats = None
    if entity_sink is not None:
        from mediachain_indexer_spark.sources.merge import upsert_entities

        sink_stats = upsert_entities(clusters, entity_sink, key_col="doc_id")

    return PipelineResult(
        features, blocks, pairs, scored, matches, clusters, sink_stats
    )
