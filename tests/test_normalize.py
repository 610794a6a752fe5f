"""Normalize stage: span-sequence invariant (BASELINE.json input_hint) +
feature extraction correctness."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from mediachain_indexer_spark.operators.normalize import (
    normalize_documents,
    span_signature,
    sorted_spans,
)
from mediachain_indexer_spark.sources import fixtures
from mediachain_indexer_spark.sources.io import SPANS_SCHEMA


def _df_from_corpus(spark, corpus):
    rows = [
        (doc_id, [{"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in spans])
        for doc_id, spans in corpus.docs
    ]
    return spark.createDataFrame(rows, SPANS_SCHEMA)


def _shuffled_spans_variant(
    corpus: fixtures.Corpus, seed: int = fixtures.SEED
) -> fixtures.Corpus:
    """Same docs with each spans array permuted (offsets intact)."""
    rng = random.Random(seed * 1_000_003 + 777)
    docs = []
    for doc_id, spans in corpus.docs:
        s = list(spans)
        rng.shuffle(s)
        docs.append((doc_id, s))
    return fixtures.Corpus(
        docs, corpus.labeled_pairs, corpus.expected_clusters, corpus.entities
    )


def test_span_sequence_invariant_under_shuffle(spark):
    """Normalization must reproduce (kind, text, media_ref) in offset order
    regardless of the physical array order — the per-row invariant."""
    corpus = fixtures.generate_corpus(300)
    shuffled = _shuffled_spans_variant(corpus)
    a = _df_from_corpus(spark, corpus).select(
        "doc_id", span_signature("spans").alias("sig")
    )
    b = _df_from_corpus(spark, shuffled).select(
        "doc_id", span_signature("spans").alias("sig")
    )
    mismatch = a.join(b, "doc_id").where(a["sig"] != b["sig"]).count()
    assert mismatch == 0


def test_normalize_preserves_spans_exactly(spark, docs500):
    """The preserved spans column loses/reorders nothing: signature equality
    row-by-row between input and output."""
    out = normalize_documents(docs500)
    before = docs500.select("doc_id", span_signature("spans").alias("sig"))
    after = out.select("doc_id", span_signature("spans").alias("sig"))
    assert before.join(after, ["doc_id", "sig"]).count() == docs500.count()


def test_sorted_spans_orders_by_offset(spark):
    rows = [
        (
            "d1",
            [
                {"kind": "media", "text": None, "media_ref": "m:00000000000000ff", "offset": 2},
                {"kind": "text", "text": "b", "media_ref": None, "offset": 1},
                {"kind": "text", "text": "a", "media_ref": None, "offset": 0},
            ],
        )
    ]
    df = spark.createDataFrame(rows, SPANS_SCHEMA)
    got = df.select(sorted_spans("spans").alias("s")).collect()[0]["s"]
    assert [x["offset"] for x in got] == [0, 1, 2]
    assert [x["text"] for x in got] == ["a", "b", None]


def test_norm_text_and_phashes(spark):
    rows = [
        (
            "d1",
            [
                {"kind": "text", "text": "  Hello, WORLD!! ", "media_ref": None, "offset": 1},
                {"kind": "text", "text": "Foo—Bar", "media_ref": None, "offset": 0},
                {"kind": "media", "text": None, "media_ref": "m:00000000000000ff", "offset": 2},
                {"kind": "media", "text": None, "media_ref": "m:ffffffffffffffff", "offset": 3},
            ],
        )
    ]
    df = spark.createDataFrame(rows, SPANS_SCHEMA)
    out = normalize_documents(df).collect()[0]
    assert out["norm_text"] == "foo bar hello world"
    assert out["phashes"] == [255, -1]  # 0xff…ff as signed 64-bit == -1


def test_phash_hamming_locality(spark):
    """media refs that differ by one hex bit differ by 1 in bit_count."""
    rows = [
        ("a", [{"kind": "media", "text": None, "media_ref": "m:0123456789abcdef", "offset": 0}]),
        ("b", [{"kind": "media", "text": None, "media_ref": "m:0123456789abcdee", "offset": 0}]),
    ]
    df = normalize_documents(spark.createDataFrame(rows, SPANS_SCHEMA))
    vals = {r["doc_id"]: r["phashes"][0] for r in df.collect()}
    assert bin(vals["a"] ^ vals["b"]).count("1") == 1
