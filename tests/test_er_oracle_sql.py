"""Pin er_oracle.py's DuckDB re-derivations bit-exact against the shipped
Spark/numpy kernels — the round-5 graduation that turned every er_* driver
surface from rows-only into a full value hash-match.

The load-bearing claim is NOT "similar values": the driver's comparator
hashes formatted floats, so the recursive-CTE Jaro-Winkler, the cascade's
bound-emitting Levenshtein branches, and the score arithmetic must all
reproduce the Spark outputs to the last ulp.  These tests therefore compare
float64 BIT PATTERNS, not approx-equality
([PK] mediachain/indexer/mc_dedupe.py pairwise rerank semantics; the Spark
kernels live in functions/simtext.py and operators/scoring.py)."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from mediachain_indexer_spark import er_oracle
from mediachain_indexer_spark.functions.simtext import (
    jaro_winkler_batch,
    jaro_winkler_ref,
)

_CACHE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache"
)
FX500 = os.path.join(_CACHE, "fx500", "spans_documents.parquet")
FX500_LABELS = os.path.join(_CACHE, "fx500", "labeled_pairs.parquet")


def _bits(x) -> np.ndarray:
    return np.asarray(x, dtype=np.float64).view(np.uint64)


# ---------------------------------------------------------------------------
# Jaro-Winkler recursive CTE vs the reference kernel
# ---------------------------------------------------------------------------
def _adversarial_pairs(n: int = 700) -> pd.DataFrame:
    """Small-alphabet randoms (many matches + transpositions), equal /
    near-equal / disjoint / reversed / empty shapes, plus >64-char rows that
    exercise the MAXLEN truncation boundary."""
    rng = np.random.default_rng(7)
    alph = list("abcdefghij ")
    pairs = []
    for i in range(n):
        la = int(rng.integers(0, 80))
        a = "".join(rng.choice(alph, la))
        mode = i % 5
        if mode == 0:
            b = a
        elif mode == 1:
            b = list(a)
            for _ in range(int(rng.integers(1, 4))):
                if b:
                    b[int(rng.integers(0, len(b)))] = str(rng.choice(alph))
            b = "".join(b)
        elif mode == 2:
            b = "".join(rng.choice(alph, int(rng.integers(0, 80))))
        elif mode == 3:
            b = a[::-1]
        else:
            b = ""
        pairs.append((i, a, b))
    return pd.DataFrame(pairs, columns=["id", "a", "b"])


def test_jw_recursive_cte_bit_exact_adversarial():
    df = _adversarial_pairs()
    py = jaro_winkler_batch(df["a"], df["b"]).to_numpy()
    # the batch kernel itself agrees with the scalar reference on a sample
    for i in range(0, len(df), 97):
        assert py[i] == jaro_winkler_ref(df["a"][i], df["b"][i])

    con = duckdb.connect()
    con.register("raw", df)
    sql = f"""
WITH RECURSIVE base AS (
  SELECT id AS doc_a, id AS doc_b, a AS ta, b AS tb FROM raw
),
{er_oracle._jwin_cte("base", "TRUE")},
{er_oracle.jw_ctes()}
SELECT doc_a AS id, jw FROM jwv ORDER BY id
"""
    duck = con.execute(sql).df().set_index("id")["jw"].reindex(df["id"]).to_numpy()
    assert (_bits(py) == _bits(duck)).all()


# ---------------------------------------------------------------------------
# full-chain surfaces vs the Spark pipeline at fx500
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def pipe500(spark, docs500, corpus500_paths):
    from mediachain_indexer_spark.plans.pipeline import run_pipeline

    res = run_pipeline(docs500)
    res.matches.persist().count()
    return res


def _duck(sql: str) -> pd.DataFrame:
    return duckdb.connect().execute(sql).df()


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["doc_a", "doc_b"]).reset_index(drop=True)


def test_matches_sql_bit_exact_fx500(pipe500):
    spark_m = _sorted(pipe500.matches.toPandas())
    duck_m = _sorted(_duck(er_oracle.matches_sql(FX500)))
    assert list(spark_m.columns) == list(duck_m.columns)
    assert len(spark_m) == len(duck_m) > 0
    assert (spark_m["doc_a"].to_numpy() == duck_m["doc_a"].to_numpy()).all()
    assert (spark_m["doc_b"].to_numpy() == duck_m["doc_b"].to_numpy()).all()
    for col in ("jw", "lev_sim", "lev_sim_sorted", "text_sim", "score"):
        s, d = spark_m[col], duck_m[col]
        nan_s, nan_d = s.isna().to_numpy(), d.isna().to_numpy()
        assert (nan_s == nan_d).all(), col
        ok = ~nan_s
        assert (_bits(s[ok]) == _bits(d[ok])).all(), col
    assert (
        spark_m["min_hamming"].to_numpy() == duck_m["min_hamming"].to_numpy()
    ).all()


def test_clusters_sql_exact_fx500(pipe500):
    spark_c = pipe500.clusters.toPandas().sort_values("doc_id").reset_index(drop=True)
    duck_c = (
        _duck(er_oracle.clusters_sql(FX500))
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert spark_c.equals(duck_c)


def test_eval_f1_sql_exact_fx500(spark, pipe500, labels500):
    from mediachain_indexer_spark.plans.eval import pairwise_f1

    m = pairwise_f1(labels500, pipe500.blocks, pipe500.clusters)
    duck = _duck(er_oracle.eval_f1_sql(FX500, FX500_LABELS)).iloc[0]
    assert int(duck["n_eligible"]) == int(m["n_eligible"])
    assert (int(duck["tp"]), int(duck["fp"]), int(duck["fn"])) == (
        int(m["tp"]),
        int(m["fp"]),
        int(m["fn"]),
    )
    for col in ("precision", "recall", "f1"):
        assert _bits(er_oracle.round_half_away_6(m[col])) == _bits(
            np.float64(duck[col])
        ), col


def test_round_half_away_6_matches_duckdb_on_ties():
    """The metric quantizer must follow DuckDB round() (half-away-from-
    zero), not Python round() (half-to-even): exact k.5e-6 ties — odd
    multiples of power-of-two denominators like 1/128 — are where the two
    diverge and where the er_eval_f1 value-hash would silently break."""
    import duckdb

    ties = [1 / 128, 3 / 128, 33 / 4096, 5 / 64, 1 / 64, 0.0, 1.0, 2 / 3, 0.9999995]
    got = [er_oracle.round_half_away_6(t) for t in ties]
    want = [
        float(duckdb.sql(f"SELECT round({t!r}::DOUBLE, 6)").fetchone()[0])
        for t in ties
    ]
    assert [_bits(np.float64(g)) for g in got] == [
        _bits(np.float64(w)) for w in want
    ]
    # and the documented divergence from Python round() is real
    assert round(1 / 128, 6) != er_oracle.round_half_away_6(1 / 128)
