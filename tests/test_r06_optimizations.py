"""Round-6 optimization equivalence + plan-shape gates.

Each round-6 plan change keeps the operator's OUTPUT bit-identical while
changing the physical plan; these tests pin both sides:

- ``cap_blocks``: single fused WindowExec (one in-partition sort), rows
  identical to the reference two-window formulation at every cap — incl.
  over-cap blocks where the xxhash64-rank sample must not drift;
- ``candidate_pairs``: the materialized staged cache keeps the cap
  window's partitioning, so the small-block self-join must plan as a
  SortMergeJoin over the cache — never a broadcast hash build of the
  staged table (the round-5 shape);
- ``lsh_band_keys``: the unrolled codegen form is byte-identical to the
  interpreted ``transform(sequence(...))`` reference.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from mediachain_indexer_spark.functions.minhash import lsh_band_keys
from mediachain_indexer_spark.operators.pairs import (
    PairsConfig,
    candidate_pairs,
    cap_blocks,
)


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _block_fixture(spark):
    """Synthetic block table with singletons, small blocks and one over-cap
    block (30 members > cap 8) so the rank-sample path is exercised."""
    rows = []
    for i in range(30):
        rows.append(("big", f"d{i:03d}", i % 7))
    for b in range(40):
        rows.append((f"s{b}", f"d{b:03d}", b))
        rows.append((f"s{b}", f"d{b + 100:03d}", b))
    for b in range(25):
        rows.append((f"lone{b}", f"d{b:03d}", None))
    return spark.createDataFrame(
        rows, "block_key string, doc_id string, exact_hash long"
    )


def _cap_reference(blocks, max_block_size):
    """The pre-round-6 two-window formulation (count window unordered,
    rank window ordered) — the behavior oracle for cap_blocks."""
    w = Window.partitionBy("block_key")
    w_rank = w.orderBy(F.xxhash64("doc_id"), F.col("doc_id"))
    return (
        blocks.withColumn("bsize", F.count("*").over(w))
        .withColumn("brank", F.row_number().over(w_rank))
        .where((F.col("bsize") >= 2) & (F.col("brank") <= max_block_size))
        .withColumn("bsize", F.least(F.col("bsize"), F.lit(max_block_size)))
        .drop("brank")
    )


def test_cap_blocks_rows_identical_to_reference(spark):
    blocks = _block_fixture(spark)
    for cap in (2, 8, 256):
        cur = cap_blocks(blocks, cap)
        ref = _cap_reference(blocks, cap)
        assert cur.exceptAll(ref).count() == 0, f"cap={cap}: extra rows"
        assert ref.exceptAll(cur).count() == 0, f"cap={cap}: missing rows"


def test_cap_blocks_single_window_single_sort(spark):
    """The projected _rk key gives both window expressions one spec, so
    CollapseWindow must merge them: exactly one Window operator and one
    in-partition Sort below it (two of each = the round-5 regression)."""
    plan = _executed(cap_blocks(_block_fixture(spark), 8))
    assert plan.count("Window ") == 1, plan
    assert plan.count("+- Sort ") == 1, plan


def test_candidate_pairs_self_join_is_smj_over_cache(spark):
    """With the staged table materialized (persist), the small-block
    self-join must be a SortMergeJoin reading the cache — no broadcast
    build of the ~corpus-sized staged table, no extra exchange between the
    cache and the join."""
    blocks = _block_fixture(spark)
    pairs = candidate_pairs(blocks, PairsConfig(salt_threshold=32))
    pairs.count()  # materialize so the final AQE plan exists
    plan = _executed(pairs)
    assert "SortMergeJoin" in plan, plan
    # the only broadcast hash joins allowed are the tiny salt-grid attach
    # joins (keys salt/g1/g2) — a block_key-keyed BHJ means the staged
    # table itself is being broadcast again
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line and "block_key" in line:
            raise AssertionError(f"staged table broadcast crept back: {line}")


def test_candidate_pairs_rows_unchanged_on_overcap_fixture(spark):
    """The materialized, merge-hinted self-join must emit exactly the
    distinct pairs built on the driver from the reference cap: all member
    pairs per capped block, minus exact-pair suppression (a pair whose two
    exact_hash values are equal is kept only from an e: block — the
    fixture has none, so its equal-hash pairs in "big" and every s<b>
    block are dropped)."""
    from itertools import combinations

    blocks = _block_fixture(spark)
    members: dict[str, list[tuple[str, int | None]]] = {}
    for r in _cap_reference(blocks, 8).collect():
        members.setdefault(r["block_key"], []).append((r["doc_id"], r["exact_hash"]))
    want = set()
    for key, docs in members.items():
        for (a, ha), (b, hb) in combinations(sorted(docs), 2):
            suppressed = (
                not key.startswith("e:")
                and ha is not None
                and hb is not None
                and ha == hb
            )
            if not suppressed:
                want.add((a, b))
    got = [tuple(r) for r in candidate_pairs(blocks, PairsConfig(max_block_size=8)).collect()]
    assert len(got) == len(set(got))
    assert want and set(got) == want


def test_minhash_kernel_matches_dense_reference(spark):
    """The round-6 compact+reduceat MinHash kernel must be bit-identical
    to the pre-round-6 dense formulation (per-permutation np.where
    sentinel fill over the padded matrix), including null/empty/short
    texts (single-shingle path) and the None signature contract."""
    import numpy as np
    import pandas as pd

    from mediachain_indexer_spark.functions.minhash import (
        MERSENNE_P,
        _coefficients,
        _shingle_hashes,
        make_minhash_udf,
    )

    num_hashes, n, seed = 12, 3, 42
    texts = pd.Series(
        ["abcdefgh", "", None, "ab", "a", "xyzzy plugh", "abcdefgh", "ab c"]
        + [f"doc {i} body text" for i in range(50)]
    )

    # dense reference (the pre-round-6 kernel, inlined)
    a_np = np.array(_coefficients(num_hashes, seed)[0], dtype=np.uint64)
    b_np = np.array(_coefficients(num_hashes, seed)[1], dtype=np.uint64)
    p = np.uint64(MERSENNE_P)
    h, valid = _shingle_hashes(texts, n)
    hm = h % p
    sentinel = np.uint64(1 << 62)
    ref = np.empty((len(texts), num_hashes), dtype=np.int64)
    for j in range(num_hashes):
        pj = (a_np[j] * hm + b_np[j]) % p
        pj = np.where(valid, pj, sentinel)
        ref[:, j] = pj.min(axis=1).astype(np.int64)
    empty = ~valid.any(axis=1)

    # current kernel through the real Spark surface
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    udf = make_minhash_udf(num_hashes, n, seed)
    got = {r["i"]: r["sig"] for r in df.select("i", udf("t").alias("sig")).collect()}
    for i in range(len(texts)):
        if empty[i]:
            assert got[i] is None, f"row {i}: expected null signature"
        else:
            assert got[i] == ref[i].tolist(), f"row {i}: signature drift"


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[len(b)]


def test_score_cascade_sorted_channel_matches_ungated_reference(spark):
    """The round-6 sorted-channel gating (raw-length ub computed before the
    sort, junk rows skipping the sort HOF, sorted-equal rows skipping the
    DP) must emit exactly the ungated formulation's values on every branch
    class: equal text, token reorder (sorted-equal), in-radius unequal,
    junk (far media + dissimilar lengths), and empty/missing-media rows."""
    from mediachain_indexer_spark.operators.scoring import (
        HAMMING_FAR,
        HAMMING_RADIUS,
        TEXT_ONLY_THRESHOLD,
        score_pairs,
    )

    near, far = [1], [1022]  # hamming(1, 1022) = popcount(1023) = 10 > radius 8
    feats_rows = [
        ("a1", "hello world", near),
        ("a2", "hello world", near),          # equal text
        ("b1", "world hello", near),          # token reorder of a1
        ("c1", "hello wurld", near),          # in-radius, unequal sorted
        ("d1", "x", far),                     # junk vs a1: far media + gap
        ("e1", "", near),                     # empty text
        ("f1", "hello world extra", None),    # no media → HAMMING_FAR
        ("g1", "world hello", far),           # token reorder of a1, far media
    ]
    feats = spark.createDataFrame(
        feats_rows, "doc_id string, norm_text string, phashes array<long>"
    )
    pair_rows = [
        ("a1", "a2"), ("a1", "b1"), ("a1", "c1"), ("a1", "d1"),
        ("a1", "e1"), ("a1", "f1"), ("d1", "e1"), ("a1", "g1"),
    ]
    pairs = spark.createDataFrame(pair_rows, "doc_a string, doc_b string")
    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in score_pairs(pairs, feats).collect()
    }
    texts = {d: t for d, t, _ in feats_rows}
    hashes = {d: p for d, _, p in feats_rows}
    assert len(got) == len(pair_rows)
    for da, db in pair_rows:
        ta, tb = texts[da], texts[db]
        pa, pb = hashes[da], hashes[db]
        if pa and pb:
            mh = min(bin(x ^ y).count("1") for x in pa for y in pb)
        else:
            mh = HAMMING_FAR
        sa = " ".join(sorted(ta.split(" ")))
        sb = " ".join(sorted(tb.split(" ")))
        smax = max(len(sa), len(sb))
        if ta == tb or smax == 0:
            exp = 1.0
        elif mh <= HAMMING_RADIUS or (
            1.0 - abs(len(sa) - len(sb)) / smax >= TEXT_ONLY_THRESHOLD
        ):
            exp = 1.0 - _lev(sa, sb) / smax
        else:
            exp = 1.0 - abs(len(sa) - len(sb)) / smax
        row = got[(da, db)]
        assert row["min_hamming"] == mh, (da, db, row)
        assert row["lev_sim_sorted"] == exp, (da, db, exp, row)
    # far media: only the sorted-equal ub (= 1.0 ≥ τ) lets the pair into
    # the DP-need branch, where the memcmp short-circuit answers it
    assert got[("a1", "g1")]["min_hamming"] > HAMMING_RADIUS
    assert got[("a1", "g1")]["lev_sim_sorted"] == 1.0


def test_score_pairs_null_text_scores_as_empty(spark):
    """A null norm_text scores every decision column and jw as '' does, and
    the decision columns are never NULL, on far-media, in-radius and
    both-null pairs."""
    from mediachain_indexer_spark.operators.scoring import score_pairs

    near, far = [1], [1022]
    pairs = spark.createDataFrame(
        [("a1", "n1"), ("a1", "n2"), ("n1", "n2")], "doc_a string, doc_b string"
    )

    def scored(null_as):
        feats = spark.createDataFrame(
            [("a1", "hello world", near), ("n1", null_as, far), ("n2", null_as, near)],
            "doc_id string, norm_text string, phashes array<long>",
        )
        cols = ["lev_sim_sorted", "text_sim", "score", "is_match", "jw"]
        return {
            (r["doc_a"], r["doc_b"]): tuple(r[c] for c in cols)
            for r in score_pairs(pairs, feats).collect()
        }

    got, ref = scored(None), scored("")
    assert got == ref
    assert all(v is not None for row in got.values() for v in row[:-1]), got
    # in radius with one side null, jw can lift text_sim past the floor, so
    # it is computed: against '' it is 0.0, not NULL
    assert got[("a1", "n2")][-1] == 0.0, got


def test_lsh_band_keys_match_transform_reference(spark):
    """Unrolled band keys ≡ the interpreted transform(sequence) form."""
    bands, rows_per_band = 4, 3
    sig_df = spark.createDataFrame(
        [([i * 7 + j for j in range(bands * rows_per_band)],) for i in range(50)],
        "sig array<long>",
    )

    ref = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.concat(
            F.lit("t"),
            b.cast("string"),
            F.lit(":"),
            F.xxhash64(
                F.concat_ws(
                    "_",
                    F.slice(
                        F.col("sig"), b * rows_per_band + 1, rows_per_band
                    ).cast("array<string>"),
                )
            ),
        ),
    )
    out = sig_df.select(
        lsh_band_keys(F.col("sig"), bands, rows_per_band).alias("new"),
        ref.alias("ref"),
    ).collect()
    for r in out:
        assert r["new"] == r["ref"]
