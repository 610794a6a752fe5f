"""Text normalization — pure JVM column expressions, no UDFs.

Parity: the reference lowercases/strips title & artist strings before
indexing and comparison (``mediachain/indexer/mc_ingest.py`` +
``mc_dedupe.py`` normalization helpers).  Here it is a Catalyst expression
chain that stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def norm_text(col: Column | str) -> Column:
    """lowercase → strip punctuation/symbols → collapse whitespace → trim.

    Deterministic and locale-independent: anything outside [a-z0-9] becomes a
    space, runs of spaces collapse.  Keeps the comparison alphabet tiny so
    MinHash n-grams and Jaro-Winkler operate on stable input.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^a-z0-9]+", " ")
    return F.trim(c)


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(norm_text(col), r"\s+")
