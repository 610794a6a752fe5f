"""Pairwise scoring: candidate pairs → scored edges + accepted matches.

Parity: the reference reranks ES candidates with Hamming distance on
perceptual hashes plus string similarity on title/artist, then thresholds
(``mediachain/indexer/mc_dedupe.py`` / ``mc_models.py`` pairwise rerank).

Spark-first split of the work:

- JVM (whole-stage codegen): ``levenshtein`` built-in, min-Hamming between
  the two docs' phash arrays via nested higher-order ``transform`` +
  ``bit_count(xor)``, all ratio arithmetic;
- Python (Arrow-vectorized, the stage's only crossing): Jaro-Winkler pandas_udf
  (functions/simtext.py).

The two feature joins (pair → doc features, twice) shuffle by doc_id; the
features relation is a narrow projection of the normalize output, cached by
the pipeline when reused across stages.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.udf import UserDefinedFunction

from mediachain_indexer_spark.functions.simtext import make_jw
from mediachain_indexer_spark.session import per_context

HAMMING_FAR = 64  # sentinel when either side has no media


# accept iff (min_hamming <= HAMMING_RADIUS AND text_sim >= TEXT_FLOOR)
#         OR text_sim >= TEXT_ONLY_THRESHOLD
#
# Re-tuned round 4 under the corrected dominance rule: the old
# (8, 0.50, 0.96) cell ranked 19/36 on a 2M-doc pair-level sweep; the
# adopted (8, 0.40, 0.99) cell was sweep-optimal and cut the score wall
# 68.6 → 46.1 s there (the lower floor seals more rows before the JW
# cascade; the higher τ tightens the text-only channel).  Cluster-level
# evidence on a 4-core / 15 GB host is BENCH/VALIDATE_THRESHOLDS_100000.json
# (tools/validate_thresholds.py, 100k docs): cluster P/R/F1
# 1.0 / 0.999988 / 0.999994 against the generative truth, labeled pairwise
# F1 0.999994 (0 FP, 4 FN).  er_oracle's SQL re-derives the scores with
# these values as literals; change both together.
HAMMING_RADIUS = 8
TEXT_FLOOR = 0.40
TEXT_ONLY_THRESHOLD = 0.99


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


def score_pairs(pairs: DataFrame, features: DataFrame) -> DataFrame:
    """pairs(doc_a, doc_b) × features(doc_id, norm_text, phashes) → scored.

    Output: (doc_a, doc_b, jw, lev_sim, lev_sim_sorted, text_sim,
    min_hamming, score, is_match).

    ``text_sim`` = max(mean(jw, lev_sim), lev_sim_sorted): the jw/lev
    average damps the Winkler prefix boost on near-miss titles sharing a
    long prefix (where JW alone over-scores); the token-sorted Levenshtein
    channel catches "artist — title" vs "title — artist" renditions.  ``jw``
    is cascade-gated: null on rows where no jw value could change
    ``is_match``.
    """
    c = per_context("score_pairs", _columns)
    # No entry repartition (round-5 A/B, 2M docs / 24.9M pairs, 2
    # alternating reps each): a round-robin repartition(2×parallelism) was
    # wall-neutral (47.5/48.3 s with vs 49.3/47.8 s without, outputs
    # bit-identical) — the doc_a feature join re-shuffles the pair table by
    # key immediately, so the round-robin exchange balances nothing the join
    # exchange doesn't, and on a real cluster it is a full network pass
    # over the biggest table in the pipeline.
    df = pairs.join(features.select(*c.side_a), "doc_a").join(
        features.select(*c.side_b), "doc_b"
    )
    scored = (
        # min_hamming FIRST: the lev cascade conditions reference it
        df.withColumn("min_hamming", c.min_hamming)
        .withColumn("_sa", c.sorted_a)
        .withColumn("_sb", c.sorted_b)
        .withColumn("lev_sim", c.lev_sim)
        .withColumn("lev_sim_sorted", c.lev_sim_sorted)
        # cascade: JW computed only where it can flip the decision (null
        # elsewhere).  Single pass — a filter-split union was measured
        # slower (it recomputes the feature joins per branch).  The UDF is
        # applied per call, so every plan gets its own PythonUDF.
        .withColumn("jw", c.jw(*c.jw_args))
        .withColumn("text_sim", c.text_sim)
    )
    scored = scored.withColumn("score", c.score).withColumn("is_match", c.is_match)
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


class _Columns(NamedTuple):
    side_a: tuple[Column, ...]
    side_b: tuple[Column, ...]
    min_hamming: Column
    sorted_a: Column
    sorted_b: Column
    lev_sim: Column
    lev_sim_sorted: Column
    jw: UserDefinedFunction
    jw_args: tuple[Column, ...]
    text_sim: Column
    score: Column
    is_match: Column


def _columns() -> _Columns:
    """score_pairs' expressions (the JW UDF unapplied)."""
    side_a, side_b = (
        (
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("norm_text").alias(f"text_{s}"),
            F.col("phashes").alias(f"phashes_{s}"),
        )
        for s in "ab"
    )

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
    in_radius = F.col("min_hamming") <= HAMMING_RADIUS
    # equality short-circuit first: exact-text dupes (14% of bench pairs)
    # skip both O(m·n) DPs and (via the matching term of need_jw) the
    # Python JW kernel — all three are exactly 1.0 for equal strings
    eq_text = F.col("text_a") == F.col("text_b")
    lev_sim = F.when(eq_text | (max_len == 0), F.lit(1.0)).otherwise(
        F.when(
            in_radius | (lev_ub >= 2.0 * TEXT_ONLY_THRESHOLD - 1.0),
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
    # Emitted values are bit-identical in every branch (er_matches oracle
    # hash-match; decision-invariance suite).
    # A null text counts as '' here, as concat_ws made it before the gating:
    # a null side scores lev_sim_sorted 0.0 (1.0 if both are null), not NULL.
    ta, tb = (F.coalesce(F.col(c), F.lit("")) for c in ("text_a", "text_b"))
    la = F.length(ta)
    lb = F.length(tb)
    smax_len = F.greatest(la, lb)
    slen_gap = F.abs(la - lb)
    sorted_ub = F.when(smax_len == 0, F.lit(1.0)).otherwise(
        1.0 - slen_gap / smax_len
    )
    need_sorted_dp = in_radius | (sorted_ub >= TEXT_ONLY_THRESHOLD)

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

    # ---- JW gate: the Python kernel runs only where jw can flip is_match.
    # With text_sim = max((jw + lev)/2, lev_sorted) and the match rule, jw
    # is decision-relevant iff
    #   (hamming ≤ r ∧ lev_sorted < floor)   — jw could lift past the floor
    #   ∨ (lev ≥ 2τ − 1)                     — jw could lift past τ
    # Everywhere else the outcome is invariant for any jw ∈ [0,1] (the
    # (jw+lev)/2 term is bounded by (1+lev)/2 < τ, and accepted rows stay
    # accepted via lev_sorted alone): at the measured corpus this skips ~90%
    # of the Python string work without changing a single match bit.  Equal
    # texts skip it too: jw = lev_sim = 1 there, which is the coalesce
    # fallback's text_sim.  A null text counts as '' (so a null side in
    # radius scores jw 0.0), and the null lev_sim such a pair gets counts as
    # below the 2τ − 1 cut.
    need_jw = (
        (in_radius & (F.col("lev_sim_sorted") < TEXT_FLOOR))
        | F.coalesce(
            F.col("lev_sim") >= 2.0 * TEXT_ONLY_THRESHOLD - 1.0, F.lit(False)
        )
    ) & (ta != tb)

    text_sim = F.greatest(
        F.coalesce((F.col("jw") + F.col("lev_sim")) / 2.0, F.col("lev_sim")),
        F.col("lev_sim_sorted"),
    )
    media_sim = 1.0 - F.least(F.col("min_hamming"), F.lit(16)) / 16.0
    return _Columns(
        side_a=side_a,
        side_b=side_b,
        min_hamming=min_hamming(F.col("phashes_a"), F.col("phashes_b")),
        sorted_a=_tok_sorted("text_a"),
        sorted_b=_tok_sorted("text_b"),
        lev_sim=lev_sim,
        lev_sim_sorted=lev_sim_sorted,
        jw=make_jw(),
        jw_args=(F.when(need_jw, ta), F.when(need_jw, tb)),
        text_sim=text_sim,
        score=0.6 * F.col("text_sim") + 0.4 * media_sim,
        is_match=(in_radius & (F.col("text_sim") >= TEXT_FLOOR))
        | (F.col("text_sim") >= TEXT_ONLY_THRESHOLD),
    )
