"""Pairwise scoring: candidate pairs → scored edges + accepted matches.

Parity: the reference reranks ES candidates with Hamming distance on
perceptual hashes plus string similarity on title/artist, then thresholds
(``mediachain/indexer/mc_dedupe.py`` / ``mc_models.py`` pairwise rerank).

Spark-first split of the work:

- JVM (whole-stage codegen): ``levenshtein`` built-in, min-Hamming between
  the two docs' phash arrays via nested higher-order ``transform`` +
  ``bit_count(xor)``, all ratio arithmetic;
- Python (Arrow-vectorized, the ONLY crossing): Jaro-Winkler pandas_udf
  (functions/simtext.py).

The two feature joins (pair → doc features, twice) shuffle by doc_id; the
features relation is a narrow projection of the normalize output, cached by
the pipeline when reused across stages.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mediachain_indexer_spark.functions.simtext import make_gated_jw

HAMMING_FAR = 64  # sentinel when either side has no media


@dataclass(frozen=True)
class ScoringConfig:
    # accept iff (min_hamming <= hamming_radius AND text_sim >= text_floor)
    #         OR text_sim >= text_only_threshold
    #
    # Defaults re-tuned round 4 under the corrected dominance rule
    # (.cache/grid2m_r4.json + validate_thresholds_2m.json): the old
    # (8, 0.50, 0.96) cell ranked 19/36 on the 2M pair-level sweep; the
    # adopted (8, 0.40, 0.99) cell is sweep-optimal AND wins the full
    # cluster-level validation at 2M docs — pairwise F1 0.999742 →
    # 0.999978 with precision and recall BOTH up — while cutting the score
    # wall 68.6 → 46.1 s (the lower floor seals more rows before the JW
    # cascade; the higher τ tightens the text-only channel).
    hamming_radius: int = 8
    text_floor: float = 0.40
    text_only_threshold: float = 0.99


def min_hamming(a_hashes, b_hashes) -> "F.Column":
    """min over the cross product of two array<long> phash columns (JVM).

    The nested ``transform`` lambda is interpreted (not codegen), but it is
    still the right tier: phash arrays are tiny (≤ a few per doc) and the
    alternative — folding min-Hamming into the existing Arrow crossing —
    pays to SHIP two array columns per pair.  A/B at 500k docs / 8.4M
    candidate pairs (local[32], 3 runs each, identical sums): this HOF
    0.48–0.87s vs an Arrow SWAR-popcount pandas_udf 2.38–2.56s — the
    transfer costs ~5× the interpreted evaluation.  Same economics as the
    cosine-kernel bake-off in functions/vecmath.py.
    """
    cross = F.flatten(
        F.transform(
            a_hashes,
            lambda x: F.transform(b_hashes, lambda y: F.bit_count(x.bitwiseXOR(y))),
        )
    )
    return F.coalesce(F.array_min(cross), F.lit(HAMMING_FAR)).cast("int")


def score_pairs(
    pairs: DataFrame,
    features: DataFrame,
    cfg: ScoringConfig = ScoringConfig(),
) -> DataFrame:
    """pairs(doc_a, doc_b) × features(doc_id, norm_text, phashes) → scored.

    Output: (doc_a, doc_b, jw, lev_sim, lev_sim_sorted, text_sim,
    min_hamming, score, is_match).

    ``text_sim`` = max(mean(jw, lev_sim), lev_sim_sorted): the jw/lev
    average damps the Winkler prefix boost on near-miss titles sharing a
    long prefix (where JW alone over-scores); the token-sorted Levenshtein
    channel catches "artist — title" vs "title — artist" renditions.  ``jw``
    is cascade-gated (functions/simtext.make_gated_jw): null on rows where
    no jw value could change ``is_match``.
    """
    # No entry repartition (round-5 A/B, 2M docs / 24.9M pairs, 2
    # alternating reps each): a round-robin repartition(2×parallelism) was
    # wall-neutral (47.5/48.3 s with vs 49.3/47.8 s without, outputs
    # bit-identical) — the doc_a feature join re-shuffles the pair table by
    # key immediately, so the round-robin exchange balances nothing the join
    # exchange doesn't, and on a real cluster it is a full network pass
    # over the biggest table in the pipeline.
    fa = features.select(
        F.col("doc_id").alias("doc_a"),
        F.col("norm_text").alias("text_a"),
        F.col("phashes").alias("phashes_a"),
    )
    fb = features.select(
        F.col("doc_id").alias("doc_b"),
        F.col("norm_text").alias("text_b"),
        F.col("phashes").alias("phashes_b"),
    )
    df = pairs.join(fa, "doc_a").join(fb, "doc_b")

    # ---- Levenshtein cascade: O(1) length-difference upper bounds gate the
    # O(m·n) DP.  lev_sim ≤ 1 - |Δlen|/maxlen always, so when the bound
    # cannot reach any decision threshold the exact value is irrelevant and
    # the bound itself is emitted.  Decision-invariance:
    #   · lev_sim matters only via (jw+lev)/2 ≥ τ (needs lev ≥ 2τ-1) or via
    #     the hamming-radius branch — so compute it iff hamming ≤ radius or
    #     ub ≥ 2τ-1;
    #   · lev_sim_sorted matters via text_sim ≥ floor (hamming branch) or
    #     ≥ τ — compute iff hamming ≤ radius or its ub ≥ τ.
    # Junk pairs (far media, dissimilar lengths) skip BOTH DPs and the JW.
    max_len = F.greatest(F.length("text_a"), F.length("text_b"))
    len_gap = F.abs(F.length("text_a") - F.length("text_b"))
    lev_ub = F.when(max_len == 0, F.lit(1.0)).otherwise(1.0 - len_gap / max_len)
    in_radius = F.col("min_hamming") <= cfg.hamming_radius
    # equality short-circuit first: exact-text dupes (14% of bench pairs)
    # skip both O(m·n) DPs and (via the matching gate in make_gated_jw) the
    # Python JW kernel — all three are exactly 1.0 for equal strings
    eq_text = F.col("text_a") == F.col("text_b")
    lev_sim = F.when(eq_text | (max_len == 0), F.lit(1.0)).otherwise(
        F.when(
            in_radius | (lev_ub >= 2.0 * cfg.text_only_threshold - 1.0),
            1.0 - F.levenshtein("text_a", "text_b") / max_len,
        ).otherwise(lev_ub)
    )

    # token-order-insensitive channel: Levenshtein on token-sorted text
    # (catches "artist — title" vs "title — artist" renditions; pure JVM).
    # The sort expressions are PROJECTED ONCE as real columns (_sa/_sb)
    # rather than inlined: array_sort's comparator lambda gets fresh
    # variable ids at every inlining site, so Catalyst's subexpression
    # elimination cannot dedup them and the interpreted split+array_sort+
    # concat_ws chain ran up to ~12× per row inside the lev_sim_sorted CASE
    # (seen in the round-6 before-plan).
    #
    # Two bit-identity facts let the cascade skip work around that sort:
    #
    # (a) the token sort is LENGTH-PRESERVING — norm_text is whitespace-
    #     normalized (single spaces, trimmed; normalize.py), so
    #     split→array_sort→concat_ws(" ") permutes bytes without changing
    #     the length (verified corpus-wide: 0 mismatches / 100k docs).  The
    #     sorted-channel length bound (smax/sgap/ub) is therefore computed
    #     from the RAW text lengths, BEFORE any sort runs — so the DP-need
    #     predicate (in_radius | ub ≥ τ) can gate the sort itself, and rows
    #     that take the ub branch (junk: far media AND dissimilar lengths —
    #     53,201/397,175 bench pairs) never evaluate the interpreted sort
    #     HOF at all (_sa/_sb short-circuit to '').
    # (b) sorted-EQUAL pairs need no DP: token-reorder duplicates
    #     (79,085/397,175 bench pairs have text_a != text_b but equal
    #     token-sorted text) would run the O(m·n) DP just to compute
    #     distance 0 — a memcmp (sa == sb) replaces it with literal 1.0,
    #     which is also what the DP branch (1 - 0/smax) and the ub branch
    #     (gap 0 ⇒ ub = 1.0) would emit.  The sorted-equal/ub-branch
    #     overlap is empty by construction: sa == sb ⇒ ub = 1.0 ≥ τ ⇒ the
    #     DP-need predicate is true — so hoisting the memcmp inside the
    #     need branch loses nothing.
    #
    # Emitted values are bit-identical in every branch (er_matches /
    # er_matches_grouped oracle hash-match; decision-invariance suite).
    # A null text counts as '' here, as concat_ws made it before the gating:
    # a null side scores lev_sim_sorted 0.0 (1.0 if both are null), not NULL.
    la = F.length(F.coalesce(F.col("text_a"), F.lit("")))
    lb = F.length(F.coalesce(F.col("text_b"), F.lit("")))
    smax_len = F.greatest(la, lb)
    slen_gap = F.abs(la - lb)
    sorted_ub = F.when(smax_len == 0, F.lit(1.0)).otherwise(
        1.0 - slen_gap / smax_len
    )
    need_sorted_dp = in_radius | (sorted_ub >= cfg.text_only_threshold)

    def _tok_sorted(c: str) -> "F.Column":
        return F.when(eq_text | ~need_sorted_dp, F.lit("")).otherwise(
            F.concat_ws(" ", F.array_sort(F.split(F.col(c), " ")))
        )

    sa, sb = F.col("_sa"), F.col("_sb")
    lev_sim_sorted = F.when(eq_text | (smax_len == 0), F.lit(1.0)).otherwise(
        F.when(
            need_sorted_dp,
            F.when(sa == sb, F.lit(1.0)).otherwise(
                1.0 - F.levenshtein(sa, sb) / smax_len
            ),
        ).otherwise(sorted_ub)
    )

    gated_jw = make_gated_jw(
        cfg.hamming_radius, cfg.text_floor, cfg.text_only_threshold
    )
    scored = (
        # min_hamming FIRST: the lev cascade conditions reference it
        df.withColumn(
            "min_hamming", min_hamming(F.col("phashes_a"), F.col("phashes_b"))
        )
        .withColumn("_sa", _tok_sorted("text_a"))
        .withColumn("_sb", _tok_sorted("text_b"))
        .withColumn("lev_sim", lev_sim)
        .withColumn("lev_sim_sorted", lev_sim_sorted)
        # cascade: JW computed only where it can flip the decision (null
        # elsewhere).  Single pass — a filter-split union was measured
        # slower (it recomputes the feature joins per branch).
        .withColumn(
            "jw",
            gated_jw(
                F.col("text_a"),
                F.col("text_b"),
                F.col("lev_sim"),
                F.col("lev_sim_sorted"),
                F.col("min_hamming"),
            ),
        )
        .withColumn(
            "text_sim",
            F.greatest(
                F.coalesce(
                    (F.col("jw") + F.col("lev_sim")) / 2.0, F.col("lev_sim")
                ),
                F.col("lev_sim_sorted"),
            ),
        )
    )
    media_sim = 1.0 - F.least(F.col("min_hamming"), F.lit(16)) / 16.0
    scored = scored.withColumn(
        "score", 0.6 * F.col("text_sim") + 0.4 * media_sim
    ).withColumn(
        "is_match",
        (
            (F.col("min_hamming") <= cfg.hamming_radius)
            & (F.col("text_sim") >= cfg.text_floor)
        )
        | (F.col("text_sim") >= cfg.text_only_threshold),
    )
    return scored.select(
        "doc_a",
        "doc_b",
        "jw",
        "lev_sim",
        "lev_sim_sorted",
        "text_sim",
        "min_hamming",
        "score",
        "is_match",
    )


# ---------------------------------------------------------------------------
# Per-block in-worker scoring fallback (SURVEY §2.2 UDF table)
# ---------------------------------------------------------------------------
_GROUPED_SCHEMA = (
    "doc_a string, doc_b string, text_sim double, min_hamming int, "
    "score double, is_match boolean"
)


def _popcount64(x: "np.ndarray") -> "np.ndarray":  # noqa: F821 (doc type)
    """SWAR popcount over a uint64 array (numpy<2 has no bitwise_count)."""
    import numpy as np

    x = x.astype(np.uint64, copy=True)
    x -= (x >> np.uint64(1)) & np.uint64(0x5555555555555555)
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(np.int64)


def score_pairs_in_blocks(
    blocks,
    features: DataFrame,
    cfg: ScoringConfig = ScoringConfig(),
    max_block_size: int = 256,
    max_pairs_per_kernel: int = 65_536,
    exact_strategy: str = "clique",
) -> DataFrame:
    """Fallback scorer: pair generation AND scoring inside the Python
    worker, per block — no pair table ever shuffles.

    When to prefer it over the join path (``candidate_pairs`` +
    ``score_pairs``): when pair explosion makes the materialized pair +
    double-feature-join shuffle the bottleneck — each block's features cross
    the Arrow boundary ONCE and the m(m−1)/2 pairs exist only inside the
    Python worker.  Blocks are hard-capped via the SAME ``pairs.cap_blocks``
    xxhash64-rank rule as the join path (identical sampled members on
    over-cap blocks — tests/test_scoring_grouped.py asserts bit-identical
    pairs + is_match on an over-cap fixture).

    ``exact_strategy`` mirrors ``PairsConfig.exact_strategy`` (round-4
    verdict #6): with ``"star"`` (and a block table carrying
    ``exact_hash``), exact-text ``e:`` blocks are EXEMPT from the size cap
    and emit min-rooted star pairs in-worker — each member pairs only with
    the block's min doc_id (rows arrive doc_id-sorted per block, so the
    star root is the block's first row, the same root the join path's
    groupBy-min picks).  Star edges are equal-text pairs (text_sim = 1 ⇒
    always a match), so entity clusters are identical to clique's on
    under-cap groups while a g-member boilerplate group costs g−1 pairs,
    never truncated — the 100-TB profile can now combine "no pair shuffle"
    (grouped) with "uncapped exact groups" (star).  Caveat: an uncapped
    mega-group still materializes its member rows in ONE worker's pandas
    frame (inherent to the grouped strategy's whole-block contract) — at
    10^7-copy scale prefer the join path's star, which never co-locates a
    group.  Measured (BENCH/BASELINE.md round-5 star A/B follow-up,
    ``.cache/ab_star_grouped.py``): on a 100k-copy boilerplate group,
    grouped+star is pair-identical to join+star but 243 s vs 35 s e2e —
    one worker scores the mega-block while the rest idle.  Rule of thumb:
    grouped+star only when the max exact-group size ≪ corpus_size/cores.

    Execution shape: ``repartition(block_key) → sortWithinPartitions
    (block_key, doc_id) → mapInPandas`` — NOT ``groupBy.applyInPandas``.
    applyInPandas invokes Python once per GROUP, which on a many-tiny-blocks
    profile (fx2000: 34,742 blocks averaging <2 members) made per-group
    invocation the dominant cost (~15× slower than the join path).  With
    rows contiguous by block inside each partition, ``mapInPandas`` sees
    whole blocks per Arrow batch (a block that straddles a batch boundary is
    carried into the next batch), builds the triangular pair index for ALL
    blocks in the batch at once, and runs ONE vectorized kernel sweep
    (Levenshtein ×2, Jaro-Winkler, padded SWAR min-Hamming) over the
    concatenated pairs.  ``max_pairs_per_kernel`` bounds kernel memory on
    few-large-blocks profiles (the DP pads to batch-max string length).

    Scores are EXACT (no cascade gating): text_sim/score can differ from the
    join path on rows where the cascade emitted bounds, but ``is_match`` is
    bit-identical — the gates are decision-invariant by construction
    (tests/test_scoring_grouped.py asserts both properties).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from mediachain_indexer_spark.functions.simtext import (
        jaro_winkler_batch,
        levenshtein_sim_batch,
    )

    radius, floor, tau = cfg.hamming_radius, cfg.text_floor, cfg.text_only_threshold
    # same contract as operators/pairs.candidate_pairs: blocks built with the
    # exact-text family carry exact_hash, which licenses dropping equal-text
    # pairs from non-e: blocks (the e: block emits them once); synthetic or
    # store-persisted 2-column block tables keep the enumerate-everything
    # behavior so the two scorer strategies stay bit-identical on ANY input
    suppress_exact = "exact_hash" in blocks.columns
    # star applies only when the block table carries the exact-text family
    # (same activation rule as pairs.candidate_pairs: no exact_hash column →
    # no e: blocks to re-shape, clique semantics are the only option)
    star_mode = exact_strategy == "star" and suppress_exact

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "doc_a": pd.Series(dtype="str"),
                "doc_b": pd.Series(dtype="str"),
                "text_sim": pd.Series(dtype="float64"),
                "min_hamming": pd.Series(dtype="int32"),
                "score": pd.Series(dtype="float64"),
                "is_match": pd.Series(dtype="bool"),
            }
        )

    def _score_pair_indices(pdf: pd.DataFrame, ia: np.ndarray, ib: np.ndarray):
        """One vectorized sweep over pre-built pair indices into pdf."""
        ta = pdf["norm_text"].fillna("").iloc[ia].reset_index(drop=True)
        tb = pdf["norm_text"].fillna("").iloc[ib].reset_index(drop=True)
        # equality fast path (the grouped twin of the join path's eq_text
        # short-circuit): identical texts have lev = lev_sorted = jw = 1.0
        # exactly — skip both O(m·n) DPs and the JW kernel for them.  On
        # e:-keyed blocks EVERY pair is equal-text, so whole exact blocks
        # bypass the string kernels.
        eq = (ta.to_numpy() == tb.to_numpy())

        # min-Hamming over the phash cross product (pad + SWAR popcount)
        ph = pdf["phashes"].to_numpy()
        m = len(pdf)
        width = max((len(p) if p is not None else 0) for p in ph) if m else 0
        if width == 0:
            ham = np.full(len(ia), HAMMING_FAR, dtype=np.int64)
        else:
            mat = np.zeros((m, width), dtype=np.int64)
            has = np.zeros((m, width), dtype=bool)
            for i, p in enumerate(ph):
                if p is not None and len(p):
                    mat[i, : len(p)] = np.asarray(p, dtype=np.int64)
                    has[i, : len(p)] = True
            x = mat[ia][:, :, None] ^ mat[ib][:, None, :]
            d = _popcount64(x.view(np.uint64).reshape(x.shape))
            valid = has[ia][:, :, None] & has[ib][:, None, :]
            d = np.where(valid, d, HAMMING_FAR)
            ham = d.reshape(len(ia), -1).min(axis=1)

        lev = np.ones(len(ta))
        lev_sorted = np.ones(len(ta))
        jw = np.ones(len(ta))
        if not eq.all():
            ne = np.nonzero(~eq)[0]
            ta_ne = ta.iloc[ne].reset_index(drop=True)
            tb_ne = tb.iloc[ne].reset_index(drop=True)
            lev[ne] = levenshtein_sim_batch(ta_ne, tb_ne)
            sort_tokens = lambda s: " ".join(sorted(s.split(" ")))  # noqa: E731
            lev_sorted[ne] = levenshtein_sim_batch(
                ta_ne.map(sort_tokens), tb_ne.map(sort_tokens)
            )
            jw[ne] = jaro_winkler_batch(ta_ne, tb_ne).to_numpy()
        text_sim = np.maximum((jw + lev) / 2.0, lev_sorted)
        media_sim = 1.0 - np.minimum(ham, 16) / 16.0
        is_match = ((ham <= radius) & (text_sim >= floor)) | (text_sim >= tau)
        return pd.DataFrame(
            {
                "doc_a": pdf["doc_id"].iloc[ia].to_numpy(),
                "doc_b": pdf["doc_id"].iloc[ib].to_numpy(),
                "text_sim": text_sim,
                "min_hamming": ham.astype(np.int32),
                "score": 0.6 * text_sim + 0.4 * media_sim,
                "is_match": is_match,
            }
        )

    def _score_whole_blocks(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        """pdf holds COMPLETE blocks, rows contiguous by block_key and
        sorted by doc_id within each (sortWithinPartitions).  Builds the
        per-block triangular indices, then sweeps the kernels over chunks
        of ≤ max_pairs_per_kernel concatenated pairs."""
        keys = pdf["block_key"].to_numpy()
        txt = pdf["norm_text"].fillna("").to_numpy() if suppress_exact else None
        # run-length block boundaries (keys are contiguous)
        change = np.nonzero(keys[1:] != keys[:-1])[0] + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(keys)]))
        ia_chunks: list[np.ndarray] = []
        ib_chunks: list[np.ndarray] = []
        n_pairs = 0
        for s, e in zip(starts, ends):
            m = e - s
            if m < 2:
                continue
            if star_mode and keys[s].startswith("e:"):
                # min-rooted star: rows are doc_id-sorted within the block,
                # so index s IS the min doc_id (the join path's groupBy-min
                # root); m−1 edges instead of m(m−1)/2
                ia = np.full(m - 1, s, dtype=np.int64)
                ib = np.arange(s + 1, e, dtype=np.int64)
            else:
                ia, ib = np.triu_indices(m, k=1)
                ia, ib = ia + s, ib + s
            if suppress_exact and not keys[s].startswith("e:"):
                # same rule as pairs._exact_suppression_filter: equal-text
                # pairs are emitted ONLY by their e: block (which holds both
                # docs), so non-e: blocks drop them before the kernels.
                # Empty-text docs have NO e: block (null exact_hash in the
                # join path) — their equal-"" pairs must survive here too.
                keep = (txt[ia] != txt[ib]) | (txt[ia] == "")
                ia, ib = ia[keep], ib[keep]
                if not len(ia):
                    continue
            ia_chunks.append(ia)
            ib_chunks.append(ib)
            n_pairs += len(ia)
            if n_pairs >= max_pairs_per_kernel:
                yield _score_pair_indices(
                    pdf, np.concatenate(ia_chunks), np.concatenate(ib_chunks)
                )
                ia_chunks, ib_chunks, n_pairs = [], [], 0
        if n_pairs:
            yield _score_pair_indices(
                pdf, np.concatenate(ia_chunks), np.concatenate(ib_chunks)
            )

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        emitted = False
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            # the trailing block may continue in the next Arrow batch:
            # hold its rows back and score only the complete prefix
            last_key = pdf["block_key"].iloc[-1]
            tail = pdf["block_key"].to_numpy() == last_key
            carry = pdf[tail]
            body = pdf[~tail]
            for out in _score_whole_blocks(body):
                emitted = True
                yield out
        if carry is not None and len(carry):
            for out in _score_whole_blocks(carry):
                emitted = True
                yield out
        if not emitted:
            yield _empty()  # keep the Arrow stream schema-typed

    from mediachain_indexer_spark.operators.pairs import cap_blocks

    # singleton-drop + membership cap BEFORE the Python boundary, via the
    # shared cap rule: singletons produce zero pairs but would still ship
    # rows (most LSH bands are singletons), and the xxhash64-rank cap keeps
    # over-cap membership identical to the join path.  The cap windows
    # share hashpartitioning(block_key) — one exchange.
    if star_mode:
        # e: blocks bypass cap_blocks (star is uncapped by design); they
        # still drop singletons — zero pairs, pure transfer waste — via a
        # window count on the same hashpartitioning(block_key) layout
        from pyspark.sql import Window as _W

        e_side = (
            blocks.where(F.col("block_key").startswith("e:"))
            .select("block_key", "doc_id")
            .withColumn(
                "bsize", F.count("*").over(_W.partitionBy("block_key"))
            )
            .where(F.col("bsize") >= 2)
            .drop("bsize")
        )
        rest = cap_blocks(
            blocks.where(~F.col("block_key").startswith("e:")), max_block_size
        ).select("block_key", "doc_id")
        sized = rest.unionByName(e_side)
    else:
        sized = cap_blocks(blocks, max_block_size)
    joined = sized.join(features, "doc_id").select(
        "block_key", "doc_id", "norm_text", "phashes"
    )
    # pin the width explicitly: the relation is byte-small, so AQE would
    # coalesce the shuffle to ONE partition and everything would score in a
    # single Python worker (measured 80s vs 11s at fx2000).  An explicit
    # repartition(n, key) is exempt from AQE coalescing; the within-
    # partition sort makes blocks contiguous (and members doc_id-ordered,
    # the same deterministic order the join path's strict < produces).
    n_parts = joined.sparkSession.sparkContext.defaultParallelism * 2
    joined = joined.repartition(n_parts, "block_key").sortWithinPartitions(
        "block_key", "doc_id"
    )
    out = joined.mapInPandas(score_batches, _GROUPED_SCHEMA)
    # a pair can appear under several blocking keys; keep one row
    return out.dropDuplicates(["doc_a", "doc_b"])
