"""Perceptual-hash column expressions.

Parity: the reference computes a 64-bit pHash/dHash of each image thumbnail
with the ``imagehash`` library (``mediachain/indexer/mc_dedupe.py`` hash
helpers) and compares via Hamming distance.  In production this engine does
the same from image bytes (``operators/media.py``: an Arrow-batched
``mapInPandas`` DCT pHash).  In the sandbox (no PIL/imagehash) the fixture
embeds the 64-bit hash in the media ref itself (``m:<16-hex>``), so the
derivation below is exact *and* Hamming-local; any other ref string falls
back to ``xxhash64`` (deterministic, but avalanche — no locality).

Everything is JVM-side; Hamming distance is ``bit_count(a ^ b)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_HEX_REF = r"^m:[0-9a-f]{16}$"


def _hex16_to_long(hex16: Column) -> Column:
    """Parse 16 hex chars into a signed 64-bit long without ANSI overflow.

    ``conv(x, 16, 10)`` returns a decimal *string* up to 2^64-1 which cannot
    ANSI-cast to long, so parse the two 32-bit halves separately and
    recombine with shift+or (bit ops never overflow).
    """
    hi = F.conv(F.substring(hex16, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hex16, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def phash_of_media_ref(media_ref: Column) -> Column:
    """64-bit perceptual-hash stand-in for a media reference (LongType)."""
    return F.when(
        media_ref.rlike(_HEX_REF), _hex16_to_long(F.substring(media_ref, 3, 16))
    ).otherwise(F.xxhash64(media_ref))


def hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit hashes — one JVM instruction pair."""
    return F.bit_count(a.bitwiseXOR(b))
