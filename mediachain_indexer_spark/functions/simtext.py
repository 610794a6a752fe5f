"""Jaro-Winkler similarity — vectorized Arrow ``pandas_udf``.

Parity: the reference reranks candidate pairs with string similarity on
title/artist plus Hamming distance on perceptual hashes
(``mediachain/indexer/mc_dedupe.py`` / ``mc_models.py`` pairwise scoring).
Levenshtein and Hamming stay JVM-side (built-ins); Jaro-Winkler has no Spark
built-in and no rapidfuzz/jellyfish in this environment, so it is the score
stage's one Python crossing — an Arrow-batched ``pandas_udf`` whose inner
loop is bounded by max string length (≤ ``MAXLEN``), with all per-pair work
done as numpy array ops across the whole batch:

- strings are padded into (batch, MAXLEN) int32 code matrices;
- the greedy in-window match scan runs once per *character position*
  (≤ MAXLEN numpy steps), not once per pair;
- transpositions come from comparing the matched-character sequences, again
  batch-wide.

The plan must therefore show ``ArrowEvalPython`` — never ``BatchEvalPython``
(BASELINE.md row 6).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from mediachain_indexer_spark.session import per_context

MAXLEN = 64  # titles/artists; longer strings are truncated (similarity-stable)
_PAD = -1
WINKLER_P = 0.1
WINKLER_MAX_PREFIX = 4


def _encode(s: pd.Series) -> np.ndarray:
    """(n, MAXLEN) int32 char-code matrix, padded with -1.

    One C-level conversion: numpy's fixed-width unicode dtype is UCS-4, so a
    (n,) '<U64' array *is* an (n, 64) uint32 code matrix — no Python loop.
    """
    arr = np.asarray(s.to_numpy(), dtype=f"U{MAXLEN}")
    codes = arr.view(np.uint32).reshape(len(s), MAXLEN).astype(np.int32)
    codes[codes == 0] = _PAD  # NUL padding → sentinel
    return codes


def jaro_winkler_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized Jaro-Winkler over a batch of string pairs → float64 [0,1]."""
    a = a.fillna("")
    b = b.fillna("")
    A = _encode(a)
    B = _encode(b)
    la = (A != _PAD).sum(axis=1)
    lb = (B != _PAD).sum(axis=1)
    n = len(a)
    maxlen = int(max(la.max(initial=0), lb.max(initial=0)))

    # match window per pair: floor(max(la,lb)/2) - 1 (≥ 0)
    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)

    used_b = np.zeros((n, maxlen if maxlen else 1), dtype=bool)
    m = np.zeros(n, dtype=np.int64)  # match count
    a_seq = np.full((n, maxlen if maxlen else 1), _PAD, dtype=np.int32)
    b_pos = np.full((n, maxlen if maxlen else 1), maxlen, dtype=np.int32)
    j_idx = np.arange(maxlen, dtype=np.int64)[None, :]

    for i in range(maxlen):
        ai = A[:, i]  # (n,)
        active = (ai != _PAD)
        if not active.any():
            break
        lo = np.maximum(i - window, 0)[:, None]
        hi = np.minimum(i + window + 1, lb)[:, None]
        cand = (
            (B[:, :maxlen] == ai[:, None])
            & ~used_b
            & (j_idx >= lo)
            & (j_idx < hi)
            & active[:, None]
        )
        found = cand.any(axis=1)
        j_star = cand.argmax(axis=1)
        rows = np.nonzero(found)[0]
        used_b[rows, j_star[rows]] = True
        a_seq[rows, m[rows]] = ai[rows]
        b_pos[rows, m[rows]] = j_star[rows]
        m[rows] += 1

    # transpositions: matched a-chars in i-order vs matched b-chars in j-order
    order = np.argsort(b_pos, axis=1, kind="stable")
    b_seq = np.take_along_axis(_gather_b(B, b_pos, maxlen), order, axis=1)
    k_idx = np.arange(maxlen if maxlen else 1)[None, :]
    valid = k_idx < m[:, None]
    t = ((a_seq != b_seq) & valid).sum(axis=1) // 2

    with np.errstate(divide="ignore", invalid="ignore"):
        mf = m.astype(np.float64)
        jaro = (mf / la + mf / lb + (mf - t) / mf) / 3.0
    jaro = np.where(m == 0, 0.0, jaro)
    both_empty = (la == 0) & (lb == 0)
    jaro = np.where(both_empty, 1.0, jaro)

    # Winkler prefix boost: ℓ = common prefix length (≤ 4)
    pl = np.zeros(n, dtype=np.int64)
    still = np.ones(n, dtype=bool)
    for i in range(min(WINKLER_MAX_PREFIX, maxlen)):
        eq = (A[:, i] == B[:, i]) & (A[:, i] != _PAD) & still
        pl += eq
        still &= eq
    jw = jaro + pl * WINKLER_P * (1.0 - jaro)
    return pd.Series(np.clip(jw, 0.0, 1.0))


def _gather_b(B: np.ndarray, b_pos: np.ndarray, maxlen: int) -> np.ndarray:
    """b-characters at matched positions (PAD where unmatched slot)."""
    safe = np.minimum(b_pos, maxlen - 1 if maxlen else 0)
    gathered = np.take_along_axis(B[:, : maxlen if maxlen else 1], safe, axis=1)
    return np.where(b_pos < maxlen, gathered, _PAD)


def make_jw():
    """The scorer's JW UDF (``_jw``), one object per SparkContext
    (session.per_context)."""
    return per_context("make_jw", _jw)


def _jw():
    """Jaro-Winkler over (a, b) string pairs; a null pair returns NaN (→ null).

    operators/scoring.py passes both sides through its JW gate, so only the
    rows where jw can flip the match decision arrive non-null.
    """

    def jw(a: pd.Series, b: pd.Series) -> pd.Series:
        need = (a.notna() & b.notna()).to_numpy()
        out = pd.Series(np.full(len(a), np.nan))
        if need.any():
            idx = np.nonzero(need)[0]
            vals = jaro_winkler_batch(
                a.iloc[idx].reset_index(drop=True),
                b.iloc[idx].reset_index(drop=True),
            )
            out.iloc[idx] = vals.to_numpy()
        return out

    # .asNondeterministic(): the UDF IS deterministic in fact, but the marker
    # is the standard barrier against CollapseProject / filter pushdown.
    # Without it, a consumer like score_pairs(...).where("is_match") lets
    # Catalyst inline is_match → text_sim → jw(...) into a pushed-down join
    # filter that ExtractPythonUDFs cannot lift, and whole-stage codegen dies
    # with INTERNAL_ERROR "Cannot evaluate expression" (round-1 driver
    # failure on er_matches; regression: tests/test_simtext.py
    # ::test_filter_unpersisted_scores).
    return pandas_udf(jw, returnType=DoubleType()).asNondeterministic()


# ---------------------------------------------------------------------------
# Pure-Python scalar reference (oracle for tests — FIXTURES.md B5)
# ---------------------------------------------------------------------------
def jaro_winkler_ref(s1: str, s2: str) -> float:
    s1, s2 = (s1 or "")[:MAXLEN], (s2 or "")[:MAXLEN]
    if not s1 and not s2:
        return 1.0
    if not s1 or not s2:
        return 0.0
    la, lb = len(s1), len(s2)
    window = max(max(la, lb) // 2 - 1, 0)
    used = [False] * lb
    a_matched, b_matched = [], []
    for i, ch in enumerate(s1):
        lo, hi = max(i - window, 0), min(i + window + 1, lb)
        for j in range(lo, hi):
            if not used[j] and s2[j] == ch:
                used[j] = True
                a_matched.append(ch)
                b_matched.append(j)
                break
    m = len(a_matched)
    if m == 0:
        return 0.0
    b_chars = [s2[j] for j in sorted(b_matched)]
    t = sum(1 for x, y in zip(a_matched, b_chars) if x != y) // 2
    jaro = (m / la + m / lb + (m - t) / m) / 3.0
    pl = 0
    for x, y in zip(s1, s2):
        if x != y or pl == WINKLER_MAX_PREFIX:
            break
        pl += 1
    return min(jaro + pl * WINKLER_P * (1.0 - jaro), 1.0)
