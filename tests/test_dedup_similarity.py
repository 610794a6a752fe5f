"""Dedup family, similarity search, and text-analysis operators."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mediachain_indexer_spark.operators.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash64,
)
from mediachain_indexer_spark.operators.similarity import (
    cosine_neighbors_lsh,
    cosine_topk_bruteforce,
)
from mediachain_indexer_spark.operators.textstats import language_id, token_counts


@pytest.fixture(scope="module")
def text_docs(spark):
    rows = [
        ("d1", "the quick brown fox jumps over the lazy dog"),
        ("d2", "The QUICK brown fox  jumps over the lazy dog!"),  # exact after norm
        ("d3", "the quick brown fox jumps over the lazy cat"),  # near-dup
        ("d4", "completely different content about spark engines"),
        ("d5", "the quick brown fox jumps over the lazy dog"),  # exact dup of d1
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_exact_duplicates(spark, text_docs):
    groups = exact_duplicates(text_docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_docs"] == 3 and g["representative"] == "d1"
    assert g["members"] == ["d1", "d2", "d5"]


def test_minhash_near_duplicates(spark, text_docs):
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in minhash_near_duplicates(text_docs).collect()
    }
    assert ("d1", "d2") in pairs and ("d1", "d5") in pairs
    assert ("d1", "d3") in pairs  # one-word change → near-dup
    assert not any("d4" in p for p in pairs)


def test_simhash_hamming_ordering(spark, text_docs):
    h = {r["doc_id"]: r["simhash"] for r in simhash64(text_docs).collect()}
    assert h["d1"] == h["d2"] == h["d5"]  # identical token multisets
    near = bin(h["d1"] ^ h["d3"]).count("1")
    far = bin(h["d1"] ^ h["d4"]).count("1")
    assert near < far


def test_ngram_jaccard_matches_python_oracle(spark, text_docs):
    def norm(s):
        import re

        return re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()

    def grams(s, n=3):
        s = norm(s)
        return {s[i : i + n] for i in range(max(len(s) - n, 0) + 1)}

    rows = text_docs.collect()
    texts = {r["doc_id"]: r["text"] for r in rows}
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["n_union"])
        for r in ngram_jaccard_pairs(text_docs).collect()
    }
    for (a, b), (nc, nu) in got.items():
        ga, gb = grams(texts[a]), grams(texts[b])
        assert nc == len(ga & gb), (a, b)
        assert nu == len(ga | gb), (a, b)


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.RandomState(7)
    base = rng.randn(30, 16).astype("float32")
    base[5] = base[0] + 0.01 * rng.randn(16).astype("float32")  # near-dup of 0
    rows = [(i, base[i].tolist()) for i in range(30)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        base,
    )


def test_cosine_topk_matches_numpy(spark, vec_df):
    df, base = vec_df
    out = cosine_topk_bruteforce(df, df.where(F.col("vec_id") == 0), k=5)
    got = [(r["neighbor_id"], r["cosine"]) for r in out.orderBy("rnk").collect()]
    norms = np.linalg.norm(base.astype("float64"), axis=1)
    cos = base.astype("float64") @ base[0].astype("float64") / (norms * norms[0])
    cos[0] = -np.inf
    order = sorted(range(30), key=lambda i: (-round(cos[i], 6), i))[:5]
    assert [g[0] for g in got] == order
    for nid, c in got:
        assert abs(c - round(cos[nid], 6)) < 1e-9


def test_lsh_neighbors_find_planted_near_dup(spark, vec_df):
    df, _ = vec_df
    pairs = {
        (r["id_a"], r["id_b"])
        for r in cosine_neighbors_lsh(df, dim=16, n_planes=8, min_cosine=0.9).collect()
    }
    assert (0, 5) in pairs


def test_language_id_heuristic(spark):
    rows = [
        ("e", "the cat and the dog of a house is big"),
        ("g", "der hund und die katze das haus ist gross"),
        ("f", "le chat et la maison les arbres est grand"),
        ("s", "el gato que la casa los perros es grande"),
        ("u", "xyzzy plugh quux"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r["pred_lang"] for r in language_id(df).collect()}
    assert got == {"e": "en", "g": "de", "f": "fr", "s": "es", "u": "und"}


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("a", "one two three"), ("b", "supercalifragilistic word")],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: (r["n_tokens"], r["n_subword_est"]) for r in token_counts(df).collect()}
    assert got["a"] == (3, 4)  # one+two → 1 each, three (5 chars) → 2
    assert got["b"][0] == 2 and got["b"][1] == 6  # ceil(20/4)=5 + 1


def test_exact_duplicates_member_cap(spark):
    """A planted mega-group (10k identical docs) must keep n_docs exact while
    the members list is bounded by max_members — the aggregation buffer never
    holds more than the cap (web-scale boilerplate-group protection)."""
    rows = [(f"d{i:05d}", "same text every time") for i in range(10_000)]
    rows.append(("zzz", "a unique one"))
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    groups = exact_duplicates(docs, max_members=16).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_docs"] == 10_000
    assert g["representative"] == "d00000"
    assert g["members"] == [f"d{i:05d}" for i in range(16)]


def test_ngram_jaccard_plan_is_equijoin(spark, text_docs):
    """The co-gram plan must never materialize a cross product: round 1's
    a.crossJoin(b) formulation is the classic O(n²) scale-killer."""
    plan = ngram_jaccard_pairs(text_docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_max_doc_freq_cut(spark, text_docs):
    """df-cut: grams above the document-frequency cap are dropped from the
    join, so n_common only counts rare grams (approximate-by-design)."""
    full = {
        (r["doc_a"], r["doc_b"]): r["n_common"]
        for r in ngram_jaccard_pairs(text_docs).collect()
    }
    cut = {
        (r["doc_a"], r["doc_b"]): r["n_common"]
        for r in ngram_jaccard_pairs(text_docs, max_doc_freq=2).collect()
    }
    assert set(cut) <= set(full)
    for k, v in cut.items():
        assert v <= full[k]


def test_hyperplane_buckets_shape(spark, vec_df):
    from mediachain_indexer_spark.operators.similarity import hyperplane_signatures

    df, _ = vec_df
    rows = hyperplane_signatures(df, dim=16, n_planes=8).collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r["bucket"]) == 8 and set(r["bucket"]) <= {"0", "1"}


def test_soundex_optional_block_key(spark):
    """SURVEY §2.2 lists soundex as an optional extra block key — phonetic
    collisions group spelling variants that n-gram keys can miss."""
    df = spark.createDataFrame(
        [("a", "Robert"), ("b", "Rupert"), ("c", "Ashcraft")], "id string, w string"
    )
    got = {r["id"]: r["sx"] for r in df.select("id", F.soundex("w").alias("sx")).collect()}
    assert got["a"] == got["b"] == "R163"  # classic phonetic pair
    assert got["c"].startswith("A")


def test_minhash_verify_tier_prunes_junk(spark, text_docs):
    """LSH→verify: the verified pair set is a subset of the raw candidates,
    keeps the true near-dups, and drops low-similarity collisions."""
    raw = {
        (r["doc_a"], r["doc_b"]) for r in minhash_near_duplicates(text_docs).collect()
    }
    verified = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_duplicates(text_docs, verify_jaccard=0.5).collect()
    }
    assert verified <= raw
    assert ("d1", "d2") in verified and ("d1", "d5") in verified  # exact dupes
    assert ("d1", "d3") in verified  # one-word change, high true Jaccard
    strict = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_duplicates(text_docs, verify_jaccard=0.999).collect()
    }
    assert ("d1", "d3") not in strict  # verify cut actually binds


def test_minhash_verify_jaccard_is_exact_set_similarity(spark):
    """The verify tier's batch sorted-merge kernel must compute EXACT shingle
    Jaccard: cross-check the verified pair set against a pure-Python set
    computation over the same normalized 5-gram multiset→set."""
    import random

    from mediachain_indexer_spark.functions.text import norm_text

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    base = [" ".join(rng.choices(vocab, k=12)) for _ in range(30)]
    texts = []
    for i, t in enumerate(base):
        texts.append((f"o{i:03d}", t))
        if i % 2 == 0:  # near-dup: perturb one word
            words = t.split()
            words[3] = "omega"
            texts.append((f"p{i:03d}", " ".join(words)))
    docs = spark.createDataFrame(texts, "doc_id string, text string")

    cut = 0.6
    got = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_duplicates(docs, verify_jaccard=cut).collect()
    }
    raw = {
        (r["doc_a"], r["doc_b"]) for r in minhash_near_duplicates(docs).collect()
    }
    # python oracle: exact jaccard on normalized 5-gram sets
    norm = {
        r["doc_id"]: r["nt"]
        for r in docs.select("doc_id", norm_text(F.col("text")).alias("nt")).collect()
    }

    def grams(s):
        return {s[i : i + 5] for i in range(max(len(s) - 5, 0) + 1)}

    expected = set()
    for a, b in raw:
        ga, gb = grams(norm[a]), grams(norm[b])
        u = len(ga | gb)
        j = 1.0 if u == 0 else len(ga & gb) / u
        if j >= cut:
            expected.add((a, b))
    assert got == expected


def test_rolling_fingerprint_properties(spark):
    """Content-id contract: deterministic, equal for equal normalized text,
    (near-certainly) distinct for different text, and the kernel agrees
    with itself across invocations."""
    from mediachain_indexer_spark.operators.textstats import rolling_fingerprint

    rows = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "The QUICK brown fox  jumps over the lazy dog!"),  # same after norm
        ("c", "a completely different document body"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")

    def fingerprints():
        return {r["doc_id"]: tuple(r)[1:] for r in rolling_fingerprint(df).collect()}

    got = fingerprints()
    assert got["a"] == got["b"]
    assert got["a"] != got["c"]
    assert fingerprints() == got
