"""Blocking stage: documents → (block_key, doc_id, exact_hash) candidate buckets.

Parity: the reference's baseline dedupe model looks up candidates by exact
perceptual-hash term match, and its next-gen model by multi-band substrings
of the binary hash so near-duplicates collide in ≥1 band
(``mediachain/indexer/mc_models.py`` baseline / baseline_ng,
``mc_dedupe.py``).  Spark-first rebuild with three key families, all
generated in one narrow projection + one ``explode``:

- ``e:``  exact-text key — xxhash64 of the normalized text (catches verbatim
          duplicates for the cost of one hash);
- ``t<b>:`` MinHash-LSH band keys over character-shingle signatures
          (functions/minhash.py) — near-duplicate *text*;
- ``p<b>:`` perceptual-hash band keys: each 64-bit pHash split into
          ``PHASH_BANDS`` contiguous bit ranges (band 0 is the hash *prefix*
          bucket) — near-duplicate *media* within a small Hamming radius
          collides in ≥1 band unless every differing bit lands in a distinct
          band.

Scale: the output shuffle is partitioned by ``block_key`` downstream
(operators/pairs.py), which also applies the size cap and salting.  Block
cardinality ~ docs × (1 + bands + media_bands), all narrow until the
pair-join shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.udf import UserDefinedFunction

from mediachain_indexer_spark.functions.minhash import lsh_band_keys, make_minhash_udf
from mediachain_indexer_spark.session import per_context

# MinHash-LSH banding (b=12, r=6): S-curve 50%-threshold at
# (1/12)^(1/6) ≈ 0.66.  Junk collisions grow superlinearly with corpus size
# (measured: t-band raw pairs 16.9M @500k → 116M @2M docs under r=5), and at
# 10^12 docs wasted candidate pairs ARE the dominant cost.  Measured at 2M
# docs with the full pipeline + pairwise-F1 eval (see BENCH/BASELINE.md):
#   r=5: 85.5M pairs, score 241 s, F1 0.9997
#   r=6: 24.9M pairs (−71%), score 65 s (3.7×), F1 0.9997 (same P AND R)
#   r=7: 14.4M pairs (−83%), score 32 s (7.5×), F1 0.9998
# r=6 is the setting — identical quality, 3.7× cheaper scoring at 2M, and the
# margin widens with corpus size; move to r=7 at 10^8+ docs (together with
# er_oracle's banding literals, which re-derive these keys).  True dupes are
# additionally covered by the exact (e:) and media (p:) families, which is
# why recall holds as the text curve steepens.
MINHASH_BANDS = 12
MINHASH_ROWS = 6  # signature length = bands * rows
SHINGLE_N = 3
MINHASH_SEED = 42
# pHash banding: PHASH_BANDS contiguous bit ranges of the 64-bit hash.
# Collision is GUARANTEED when pairwise Hamming < PHASH_BANDS, and the
# junk-collision rate is n² / (2 · 2^(64/bands)) per band — band width must
# grow with corpus size.  3 bands × 21 bits (2M buckets) keeps random
# collisions negligible at 10^6 docs; at 10^9+ move to 2×32 (text LSH covers
# the larger-radius media pairs — true duplicates share text too).  The old
# 4×16 layout collided quadratically: measured 17M junk media pairs at 500k
# docs.
PHASH_BANDS = 3


def phash_band_keys(phashes_col) -> "F.Column":
    """array<string> of band keys for every phash in an array<long> column.

    The 64 bits are split into ``PHASH_BANDS`` contiguous ranges (width =
    64 // PHASH_BANDS, remainder to the last band; band 0 is the hash
    *prefix* bucket).  Key = 'p<b>:<band value>'.  Pure JVM bit ops.
    """
    width = 64 // PHASH_BANDS
    keys_per_hash = []
    for b in range(PHASH_BANDS):
        lo = 64 - (b + 1) * width if b < PHASH_BANDS - 1 else 0
        hi = 64 - b * width  # exclusive
        mask = (1 << (hi - lo)) - 1
        keys_per_hash.append(
            lambda h, b=b, lo=lo, mask=mask: F.concat(
                F.lit(f"p{b}:"),
                F.shiftrightunsigned(h, lo).bitwiseAND(F.lit(mask)).cast("string"),
            )
        )
    return F.flatten(
        F.transform(
            phashes_col,
            lambda h: F.array(*[k(h) for k in keys_per_hash]),
        )
    )


def build_blocks(norm_df: DataFrame) -> DataFrame:
    """(doc_id, norm_text, phashes) → (block_key, doc_id, exact_hash), distinct.

    ``exact_hash`` is xxhash64 of ``norm_text`` (null for empty text) — the
    value the ``e:`` key embeds; the incremental store persists it too, so
    every caller of ``candidate_pairs`` hands it the same table shape.

    One projection computes every key family into a single array column, one
    ``explode`` flattens it — Catalyst keeps this in a single codegen stage
    up to the downstream shuffle.
    """
    minhash, block_cols = per_context("build_blocks", _columns)
    # project the signature once before fanning out into band keys; the
    # UDF is applied per call, so every plan gets its own PythonUDF
    return norm_df.select(
        "doc_id",
        "norm_text",
        "phashes",
        minhash(F.col("norm_text")).alias("minhash_sig"),
    ).select(*block_cols).select("block_key", "doc_id", "exact_hash")


def _columns() -> tuple[UserDefinedFunction, tuple[Column, ...]]:
    """(MinHash UDF, build_blocks' output columns over its signature)."""
    minhash = make_minhash_udf(MINHASH_BANDS * MINHASH_ROWS, SHINGLE_N, MINHASH_SEED)
    sig = F.col("minhash_sig")
    text_keys = F.when(
        sig.isNotNull(),
        lsh_band_keys(sig, MINHASH_BANDS, MINHASH_ROWS),
    ).otherwise(F.array().cast("array<string>"))

    media_keys = F.when(
        F.col("phashes").isNotNull(),
        phash_band_keys(F.col("phashes")),
    ).otherwise(F.array().cast("array<string>"))

    has_text = F.col("norm_text").isNotNull() & (F.length("norm_text") > 0)
    exact_hash = F.when(has_text, F.xxhash64("norm_text"))
    exact_key = F.when(
        has_text,
        F.array(F.concat(F.lit("e:"), exact_hash.cast("string"))),
    ).otherwise(F.array().cast("array<string>"))

    # per-row array_distinct, NOT a table-wide dropDuplicates: a duplicate
    # (block_key, doc_id) row can only come from duplicate keys inside ONE
    # doc's key array (identical phashes in the phashes array — the three
    # families can't collide across each other, their prefixes differ, and
    # distinct docs can't collide on doc_id).  The old dropDuplicates was a
    # full shuffle of the exploded block table (docs × ~16 keys — the block
    # stage's only wide exchange); the narrow form dedups before the explode
    # for free and every downstream consumer re-partitions by block_key
    # itself anyway (pairs cap-window, ingest upsert).
    keys = F.array_distinct(F.concat(text_keys, media_keys, exact_key))
    # exact_hash rides along (8 bytes/row) so pair generation can suppress
    # duplicate emissions of exact-text pairs from the t:/p: families — an
    # identical-text pair collides in EVERY MinHash band (identical
    # signatures) plus the e: key, so without suppression it enters the raw
    # pair table ~(1 + bands) times and dominates the cross-band dedup
    # shuffle (operators/pairs.candidate_pairs).
    return minhash, (
        F.col("doc_id"),
        F.explode(keys).alias("block_key"),
        exact_hash.alias("exact_hash"),
    )
