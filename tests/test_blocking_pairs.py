"""Blocking + pair generation: recall oracle (brute force on 500 docs),
cap/salt invariants, cross-band dedup."""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from mediachain_indexer_spark.operators import _cache
from mediachain_indexer_spark.operators.blocking import build_blocks
from mediachain_indexer_spark.operators.normalize import normalize_documents
from mediachain_indexer_spark.operators.pairs import PairsConfig, candidate_pairs
from mediachain_indexer_spark.plans.eval import blocking_recall


def test_blocking_recall_on_labeled_pairs(spark, docs500, labels500):
    """Every (well, ≥99.5% of) true-match pair must share ≥1 block key."""
    feats = normalize_documents(docs500)
    blocks = build_blocks(feats)
    assert blocking_recall(labels500, blocks) >= 0.995


def test_blocks_shape(spark, docs500):
    blocks = build_blocks(normalize_documents(docs500))
    assert blocks.columns == ["block_key", "doc_id", "exact_hash"]
    # distinct (block_key, doc_id)
    assert blocks.count() == blocks.dropDuplicates(["block_key", "doc_id"]).count()
    # all three key families present
    fams = {
        r["fam"]
        for r in blocks.select(F.substring("block_key", 1, 1).alias("fam")).distinct().collect()
    }
    assert fams == {"e", "t", "p"}


def test_pairs_canonical_and_unique(spark, docs500):
    blocks = build_blocks(normalize_documents(docs500))
    pairs = candidate_pairs(blocks)
    n = pairs.count()
    assert pairs.where(F.col("doc_a") >= F.col("doc_b")).count() == 0
    assert pairs.dropDuplicates(["doc_a", "doc_b"]).count() == n


def test_repeat_call_keeps_its_staged_cache(spark, docs500):
    """A second call over the same blocks builds the same staged plan, and
    Spark caches by plan: the first call's cache is released before the
    second persists, so the second call's pairs still read a cache."""
    blocks = build_blocks(normalize_documents(docs500))
    candidate_pairs(blocks).count()
    pairs = candidate_pairs(blocks)
    pairs.count()
    (staged,) = _cache._HELD["candidate_pairs"]
    assert staged.storageLevel != StorageLevel.NONE
    assert "InMemoryTableScan" in pairs._jdf.queryExecution().executedPlan().toString()


def test_salted_path_equals_plain_path(spark, docs500):
    """Forcing every block through the salted triangle join must produce
    exactly the same pair set as the plain self-join."""
    blocks = build_blocks(normalize_documents(docs500))
    plain = candidate_pairs(blocks, PairsConfig(salt_threshold=10**9))
    salted = candidate_pairs(blocks, PairsConfig(salt_threshold=1, n_salts=4))
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_exact_suppression_preserves_pair_set(spark, docs500):
    """The exact_hash suppression must emit EXACTLY the pair set of this
    test's unsuppressed reference, the distinct strict-< self-join of the
    capped block table — suppression only removes duplicate emissions,
    never a pair (under-cap corpora)."""
    import mediachain_indexer_spark.operators.pairs as P

    blocks = build_blocks(normalize_documents(docs500))
    staged = P.cap_blocks(blocks, P.PairsConfig().max_block_size).persist()
    raw_reference = (
        staged.select("block_key", F.col("doc_id").alias("doc_a"))
        .join(staged.select("block_key", F.col("doc_id").alias("doc_b")), "block_key")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    reference = raw_reference.distinct()
    got = candidate_pairs(blocks)
    assert got.exceptAll(reference).count() == 0
    assert reference.exceptAll(got).count() == 0
    # and the raw (pre-dedup) emission count must actually shrink: exact-dup
    # pairs leave only their e:-keyed emission
    assert P._plain_pairs(staged).count() < raw_reference.count()
    staged.unpersist()


def test_exact_suppression_keeps_textless_media_pairs(spark):
    """Docs with NO text co-block only via p: media bands and compare
    equal-on-empty-text — the exact-pair suppression (null exact_hash for
    empty text) must NOT drop them, and the scorer must match them on
    media alone."""
    from mediachain_indexer_spark.operators.scoring import score_pairs

    feats = spark.createDataFrame(
        [("m1", "", [17]), ("m2", "", [17]), ("t1", "some real title here", None)],
        "doc_id string, norm_text string, phashes array<long>",
    ).persist()
    blocks = build_blocks(feats).persist()
    rows = {
        (r["doc_a"], r["doc_b"]): r["is_match"]
        for r in score_pairs(candidate_pairs(blocks), feats).collect()
    }
    assert rows == {("m1", "m2"): True}
    feats.unpersist()
    blocks.unpersist()


def test_star_exact_strategy_same_clusters(spark, docs500):
    """exact_strategy='star' must produce EXACTLY the clusters of 'clique'
    on under-cap corpora: every star edge is an equal-text pair (always a
    match), so component connectivity is identical even though the pair
    ledger is smaller."""
    from mediachain_indexer_spark.operators.cluster import (
        attach_components,
        connected_components,
    )
    from mediachain_indexer_spark.operators.scoring import score_pairs

    feats = normalize_documents(docs500).select(
        "doc_id", "norm_text", "phashes"
    ).persist()
    blocks = build_blocks(feats).persist()

    def clusters(strategy):
        pairs = candidate_pairs(blocks, PairsConfig(exact_strategy=strategy))
        matches = score_pairs(pairs, feats).where(F.col("is_match"))
        out = attach_components(
            feats.select("doc_id"), connected_components(matches)
        )
        return {(r["doc_id"], r["entity_id"]) for r in out.collect()}

    n_clique = candidate_pairs(blocks, PairsConfig()).count()
    n_star = candidate_pairs(blocks, PairsConfig(exact_strategy="star")).count()
    assert n_star <= n_clique  # star never enlarges the ledger
    assert clusters("star") == clusters("clique")
    feats.unpersist()
    blocks.unpersist()


def test_star_exact_strategy_keeps_overcap_groups_whole(spark):
    """A boilerplate group larger than max_block_size: 'clique' caps the e:
    block (members beyond the cap never pair), 'star' keeps every member
    with linear edges — the scale rationale for the strategy."""
    n, cap = 40, 8
    feats = spark.createDataFrame(
        [(f"d{i:03d}", "identical boilerplate text here", None) for i in range(n)],
        "doc_id string, norm_text string, phashes array<long>",
    )
    blocks = build_blocks(feats)
    star_pairs = candidate_pairs(
        blocks, PairsConfig(max_block_size=cap, exact_strategy="star")
    ).collect()
    # all n-1 edges, rooted at the min doc_id
    assert len(star_pairs) == n - 1
    assert {r["doc_a"] for r in star_pairs} == {"d000"}
    assert {r["doc_b"] for r in star_pairs} == {f"d{i:03d}" for i in range(1, n)}
    # clique mode on the same input is bounded by the cap
    clique_pairs = candidate_pairs(blocks, PairsConfig(max_block_size=cap))
    docs_in_pairs = clique_pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("d")
    ).distinct()
    assert docs_in_pairs.count() == cap  # the other n-cap docs are dropped


def test_size_cap_bounds_block_contribution(spark):
    """A block of n docs capped at K contributes at most C(K,2) pairs."""
    rows = [("hot", f"d{i:03d}", None) for i in range(50)]
    blocks = spark.createDataFrame(rows, "block_key string, doc_id string, exact_hash long")
    pairs = candidate_pairs(blocks, PairsConfig(max_block_size=10, salt_threshold=4, n_salts=3))
    assert pairs.count() == 45  # C(10,2)


def test_pairs_config_rejects_unusable_cap():
    """A cap below 2 forms no pair, a cap raised past 1024 without a salt
    threshold would run every hot block unsalted, no salts empty the salted
    grid, and an unknown exact strategy would run clique: all fail loudly."""
    import pytest

    for cap in (1, 0, -5):
        with pytest.raises(ValueError, match="max_block_size must be >= 2"):
            PairsConfig(max_block_size=cap)
    with pytest.raises(ValueError, match="salt_threshold"):
        PairsConfig(max_block_size=1025)
    with pytest.raises(ValueError, match="salt_threshold"):
        PairsConfig(max_block_size=4096, n_salts=16)
    for n_salts in (0, -1):
        with pytest.raises(ValueError, match="n_salts must be >= 1"):
            PairsConfig(salt_threshold=4, n_salts=n_salts)
    for strategy in ("stars", "Clique", ""):
        with pytest.raises(ValueError, match="exact_strategy"):
            PairsConfig(exact_strategy=strategy)


def test_pairs_config_explicit_salt_allows_raised_cap():
    """An explicit salt_threshold licenses a cap above 1024; the edges of
    the accepted range stay valid without one."""
    cfg = PairsConfig(max_block_size=4096, salt_threshold=512)
    assert (cfg.max_block_size, cfg.salt_threshold) == (4096, 512)
    assert PairsConfig(max_block_size=2).max_block_size == 2
    assert PairsConfig(max_block_size=1024).salt_threshold is None


def test_cap_is_deterministic(spark):
    rows = [("hot", f"d{i:03d}", None) for i in range(50)]
    blocks = spark.createDataFrame(rows, "block_key string, doc_id string, exact_hash long")
    cfg = PairsConfig(max_block_size=10)
    a = sorted(map(tuple, candidate_pairs(blocks, cfg).collect()))
    b = sorted(map(tuple, candidate_pairs(blocks, cfg).collect()))
    assert a == b


def test_banding_decisions_agree_across_minhash_impls(spark):
    """Property: the numpy MinHash kernel (the one implementation left; its
    signatures are pinned by the ``er_blocks`` DuckDB oracle) makes the
    expected BANDING DECISIONS where the S-curve is deterministic:
    exact-duplicate texts always co-block (identical text → identical
    signature → every band collides), and strongly-distinct texts never do
    (collision probability ≈ bands · 2⁻⁶⁴).
    Pairs in the probabilistic middle of the S-curve (moderate Jaccard) are
    deliberately NOT generated — there a band collision is a coin flip
    (hypothesis found repeated-word texts whose cross-index shingle
    Jaccard ≈ 0.45)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    vocab = ["amber", "birch", "cobalt", "dune", "ember", "fjord", "grove"]

    def caesar(word: str, k: int) -> str:
        # per-index alphabet: distinct texts share (almost) no n-grams,
        # pushing band-collision probability to ~J^r ≈ 0
        return "".join(chr((ord(c) - 97 + k) % 26 + 97) for c in word)

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=8, max_size=14),
            min_size=3,
            max_size=6,
        )
    )
    def prop(word_lists):
        rows = []
        expected_pairs = set()
        for i, words in enumerate(word_lists):
            text = " ".join(caesar(w, i) for w in words)
            rows.append((f"d{i:02d}a", text, None))
            rows.append((f"d{i:02d}b", text, None))
            expected_pairs.add((f"d{i:02d}a", f"d{i:02d}b"))
        feats = spark.createDataFrame(
            rows, "doc_id string, norm_text string, phashes array<long>"
        )

        # text bands only: the e: key would co-block the duplicates by itself
        b = build_blocks(feats).where(~F.col("block_key").startswith("e:"))
        left = b.select("block_key", F.col("doc_id").alias("doc_a"))
        right = b.select("block_key", F.col("doc_id").alias("doc_b"))
        coblocked = {
            (r["doc_a"], r["doc_b"])
            for r in left.join(right, "block_key")
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
            .collect()
        }
        assert coblocked == expected_pairs

    prop()


def test_cap_blocks_matches_window_reference(spark):
    """cap_blocks (the shipped all-window formulation) must be row-identical
    to this test's independent inline window reference at every cap,
    including caps that force the over-cap sampling path on a skewed
    synthetic table.  (The round-4 sort-free variant — partial-agg sizes +
    shuffle-hash join + over-cap-only rank window — was proven identical
    here, then reverted for the 4M-doc OOM/SMJ regression recorded in
    pairs.py; this test stays as the regression guard if that rewrite is
    ever retried.)"""
    from pyspark.sql import Window

    from mediachain_indexer_spark.operators.pairs import cap_blocks

    rows = []
    for b, n in (("k_single", 1), ("k_pair", 2), ("k_mid", 7), ("k_hot", 40)):
        rows += [(b, f"d{b}_{i:03d}") for i in range(n)]
    blocks = spark.createDataFrame(rows, "block_key string, doc_id string")

    def reference(bl, cap):
        w = Window.partitionBy("block_key")
        w_rank = w.orderBy(F.xxhash64("doc_id"), F.col("doc_id"))
        return (
            bl.withColumn("bsize", F.count("*").over(w))
            .withColumn("brank", F.row_number().over(w_rank))
            .where((F.col("bsize") >= 2) & (F.col("brank") <= cap))
            .withColumn("bsize", F.least(F.col("bsize"), F.lit(cap)))
            .drop("brank")
        )

    for cap in (64, 10, 3, 2):
        got = cap_blocks(blocks, cap).select("block_key", "doc_id", "bsize")
        want = reference(blocks, cap).select("block_key", "doc_id", "bsize")
        assert got.exceptAll(want).union(want.exceptAll(got)).count() == 0, cap
