"""Normalize stage: spans → comparable features, order-preserving.

Parity: the reference normalizes each media document at ingest (lowercase /
strip title + artist, compute thumbnail pHash) before anything else touches
it (``mediachain/indexer/mc_ingest.py``).  Spark-first: one narrow
whole-stage-codegen projection — higher-order array functions over the spans
struct, no shuffle, no Python.

Per-row invariant (BASELINE.json input_hint): span-sequence equality
``(kind, text, media_ref, order)`` — span order is defined by ``offset``,
and normalization must never reorder or drop spans on the preserved output.
``span_signature`` is the canonical witness used by the property tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mediachain_indexer_spark.functions.phash import phash_of_media_ref
from mediachain_indexer_spark.functions.text import norm_text
from mediachain_indexer_spark.session import per_context

_FS = chr(31)  # field separator in the span signature
_NULL = chr(30)  # null sentinel — cannot appear in real span values


def sorted_spans(
    spans: Column | str = "spans", fields: tuple[str, ...] | set[str] | None = None
) -> Column:
    """Spans in offset order — array_sort on a struct with offset first.

    Sorting struct(offset, kind, text, media_ref) orders by offset (struct
    comparison is field-by-field), then fields are projected back in the
    declared span shape.
    """
    c = F.col(spans) if isinstance(spans, str) else spans
    present = tuple(fields) if fields is not None else ("kind", "text", "media_ref")
    tail = [f for f in ("kind", "text", "media_ref") if f in present]
    by_offset = F.array_sort(
        F.transform(
            c,
            lambda s: F.struct(
                s["offset"].alias("offset"),
                *[s[f].alias(f) for f in tail],
            ),
        )
    )
    return F.transform(
        by_offset,
        lambda s: F.struct(
            *[s[f].alias(f) for f in tail],
            s["offset"].alias("offset"),
        ),
    )


def span_signature(spans: Column | str = "spans") -> Column:  # full shape only
    """Canonical per-row witness of (kind, text, media_ref, order).

    Equal signatures ⇔ equal span sequences.  Null-safe: nulls are encoded
    as a sentinel that cannot collide with real values.
    """
    return F.transform(
        sorted_spans(spans),
        lambda s: F.concat_ws(
            _FS,
            F.coalesce(s["kind"], F.lit(_NULL)),
            F.coalesce(s["text"], F.lit(_NULL)),
            F.coalesce(s["media_ref"], F.lit(_NULL)),
        ),
    )


def _ordered_values(spans: Column, kind: str, field: str) -> Column:
    """Values of one span field, offset-ordered, referencing ONLY
    (kind, offset, <field>) — so nested-schema pruning can drop the other
    span fields from the parquet scan when a consumer uses just one family
    (e.g. text blocking never reads media_ref bytes)."""
    picked = F.transform(
        F.filter(
            spans,
            lambda s: (s["kind"] == F.lit(kind)) & s[field].isNotNull(),
        ),
        lambda s: F.struct(s["offset"].alias("o"), s[field].alias("v")),
    )
    return F.transform(F.array_sort(picked), lambda p: p["v"])


def normalize_documents(df: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → (doc_id, spans, norm_text, phashes).

    - ``spans``: preserved, re-ordered by offset (content untouched);
    - ``norm_text``: all text spans in offset order, normalized, joined by a
      single space — the input to shingling / MinHash / string scoring;
    - ``phashes``: array<long> of 64-bit perceptual hashes of the media
      spans, offset order preserved.

    Narrow (no shuffle).  norm_text and phashes are built through minimal
    struct(offset, value) projections (not the full span struct), so
    nested-schema pruning keeps unused span fields out of the scan —
    asserted by tests/test_plan_quality.py.
    """
    # schema-aware: a source-pruned scan (io.read_documents spans_fields=…)
    # may omit span fields entirely — emit empty arrays for missing families
    span_fields = frozenset(
        f.name for f in df.schema["spans"].dataType.elementType.fields
    )
    return df.select(
        *per_context(("normalize_documents", span_fields), lambda: _columns(span_fields))
    )


def _columns(span_fields: frozenset[str]) -> tuple[Column, ...]:
    """normalize_documents' output columns for a spans struct with these
    fields."""
    if "text" in span_fields:
        text_concat = F.concat_ws(
            " ", _ordered_values(F.col("spans"), "text", "text")
        )
    else:
        text_concat = F.lit("")
    if "media_ref" in span_fields:
        phashes = F.transform(
            _ordered_values(F.col("spans"), "media", "media_ref"),
            phash_of_media_ref,
        )
    else:
        phashes = F.array().cast("array<long>")
    return (
        F.col("doc_id"),
        sorted_spans("spans", span_fields).alias("spans"),
        norm_text(text_concat).alias("norm_text"),
        phashes.alias("phashes"),
    )
