"""Evaluation helpers: pairwise F1 accounting and threshold grid search."""

from __future__ import annotations

from mediachain_indexer_spark.plans.eval import grid_search_thresholds, pairwise_f1


def _ref_lev(s1: str, s2: str) -> int:
    """Scalar Levenshtein DP (one rolling row) — the test-side oracle."""
    d = list(range(len(s2) + 1))
    for i in range(1, len(s1) + 1):
        prev, d[0] = d[0], i
        for j in range(1, len(s2) + 1):
            cur = d[j]
            d[j] = min(d[j] + 1, d[j - 1] + 1, prev + (s1[i - 1] != s2[j - 1]))
            prev = cur
    return d[len(s2)]


def test_pairwise_f1_counts(spark):
    labels = spark.createDataFrame(
        [("a", "b", True), ("a", "c", True), ("x", "y", False), ("p", "q", True)],
        "doc_a string, doc_b string, is_match boolean",
    )
    # blocks: everything co-blocked except (p, q)
    blocks = spark.createDataFrame(
        [("k1", "a"), ("k1", "b"), ("k1", "c"), ("k2", "x"), ("k2", "y")],
        "block_key string, doc_id string",
    )
    clusters = spark.createDataFrame(
        [("a", "e1"), ("b", "e1"), ("c", "e2"), ("x", "e3"), ("y", "e3")],
        "doc_id string, entity_id string",
    )
    m = pairwise_f1(labels, blocks, clusters)
    # eligible: (a,b)+ pred+, (a,c)+ pred-, (x,y)- pred+ ; (p,q) not co-blocked
    assert m["n_eligible"] == 3
    assert (m["tp"], m["fp"], m["fn"]) == (1, 1, 1)
    assert abs(m["f1"] - 0.5) < 1e-12


def test_grid_search_orders_by_f1(spark):
    labels = spark.createDataFrame(
        [("a", "b", True), ("c", "d", False)],
        "doc_a string, doc_b string, is_match boolean",
    )
    scored = spark.createDataFrame(
        [
            ("a", "b", 0.97, 2),  # true pair: high sim, close hashes
            ("c", "d", 0.95, 40),  # negative: high text sim, far hashes
        ],
        "doc_a string, doc_b string, text_sim double, min_hamming int",
    )
    res = grid_search_thresholds(
        labels, scored, hamming_radii=(8,), text_floors=(0.5,), text_onlys=(0.93, 0.99)
    )
    assert res[0]["text_only"] == 0.99 and res[0]["f1"] == 1.0
    assert res[-1]["f1"] < 1.0


def test_grid_search_asserts_scored_cfg_dominates(spark):
    """Sweeping outside the scored config's gating envelope must be rejected:
    gated rows carry bounds, not exact sims, for foreign thresholds.  The
    floor direction is ≥ (the JW gate SKIPS rows with lev_sorted ≥ the scored
    floor), radius is ≥, τ is ≤."""
    import pytest

    from mediachain_indexer_spark.operators.scoring import ScoringConfig

    labels = spark.createDataFrame(
        [("a", "b", True)], "doc_a string, doc_b string, is_match boolean"
    )
    scored = spark.createDataFrame(
        [("a", "b", 0.97, 2)],
        "doc_a string, doc_b string, text_sim double, min_hamming int",
    )
    dominant = ScoringConfig(hamming_radius=10, text_floor=0.6, text_only_threshold=0.93)
    res = grid_search_thresholds(labels, scored, scored_cfg=dominant)
    assert res[0]["f1"] == 1.0

    # floor BELOW a swept floor (the previously-inverted direction): the
    # scored frame lacks jw on rows with lev_sorted in [0.4, 0.6) → reject
    low_floor = ScoringConfig(hamming_radius=10, text_floor=0.4, text_only_threshold=0.93)
    with pytest.raises(AssertionError):
        grid_search_thresholds(labels, scored, scored_cfg=low_floor)

    narrow = ScoringConfig(hamming_radius=8, text_floor=0.6, text_only_threshold=0.96)
    with pytest.raises(AssertionError):
        grid_search_thresholds(labels, scored, scored_cfg=narrow)


def test_grid_search_floor_sweep_matches_rescoring(spark):
    """Regression for the inverted floor-dominance: a row whose lev_sorted
    sits between two swept floors (JW high, hamming close) must sweep to the
    SAME decision a pipeline actually configured at each floor produces.

    Scoring at the dominant corner (floor = max swept floor) forces the JW
    kernel on every row any swept floor could need; scoring at the low
    corner used to store the lev fallback and silently misreport F1."""
    from mediachain_indexer_spark.operators.scoring import ScoringConfig, score_pairs

    # texts engineered so lev_sorted ∈ (0.4, 0.6) but jw lifts (jw+lev)/2
    # past 0.6: long shared prefix (Winkler boost), heavy suffix edits
    ta, tb = "abcdefgh one", "abcdzzzz two"
    feats = spark.createDataFrame(
        [("a", ta, [1]), ("b", tb, [2])],
        "doc_id string, norm_text string, phashes array<long>",
    )
    pairs = spark.createDataFrame([("a", "b")], "doc_a string, doc_b string")
    labels = spark.createDataFrame(
        [("a", "b", True)], "doc_a string, doc_b string, is_match boolean"
    )

    # exact (ungated) reference decision per floor, from the Python oracles
    from mediachain_indexer_spark.functions.simtext import jaro_winkler_ref

    lev = 1 - _ref_lev(ta, tb) / max(len(ta), len(tb))
    sa, sb = " ".join(sorted(ta.split(" "))), " ".join(sorted(tb.split(" ")))
    lev_sorted = 1 - _ref_lev(sa, sb) / max(len(sa), len(sb))
    jw = jaro_winkler_ref(ta, tb)
    text_sim = max((jw + lev) / 2, lev_sorted)
    assert 0.4 <= lev_sorted < 0.6 < text_sim  # the trap configuration
    ham = bin(1 ^ 2).count("1")

    floors = (0.4, 0.5, 0.6)
    dominant = ScoringConfig(hamming_radius=8, text_floor=0.6, text_only_threshold=0.93)
    scored = score_pairs(pairs, feats, dominant)
    res = grid_search_thresholds(
        labels, scored, hamming_radii=(8,), text_floors=floors,
        text_onlys=(0.93,), scored_cfg=dominant,
    )
    for row in res:
        expect_match = (ham <= 8 and text_sim >= row["text_floor"]) or text_sim >= 0.93
        assert row["tp"] == int(expect_match), row
        assert row["fn"] == int(not expect_match), row
