"""Vectorized embedding math — numpy Arrow ``pandas_udf`` kernels.

Round-1 measured (and memory-recorded) fact: Spark's higher-order array
lambdas (``zip_with``/``aggregate``) are *interpreted per element*, not
codegen'd — the 64-slot MinHash migration off HOFs was ~30× (300s → 11s at
100k docs).  The cosine/dot kernels here are the same migration for the
similarity operators: one Arrow crossing, all math as (batch, dim) float64
numpy ops.

Numeric parity with the DuckDB oracles: inputs are upcast to float64 BEFORE
the multiply (DuckDB's ``LIST_TRANSFORM(e, x -> CAST(x AS DOUBLE))`` does the
same; the old HOF multiplied in float32 then cast) and the reduction is
``einsum`` (sequential C-loop accumulation, matching list_dot_product's
fold order more closely than BLAS-reordered ``matmul``).  Consumers round
to ≤ 6 digits, absorbing any last-ulp difference.

Measured here (local[32], query-vs-corpus cosine, single back-to-back run;
run-to-run variance on this box is large):
- 200k × 64-dim:  HOF-crossjoin 0.69s, per-pair numpy 0.98s, closure 0.63s
- 100k × 768-dim: HOF-crossjoin 7.2s,  per-pair numpy 5.4s,  closure 2.8s
The lesson is NOT "numpy always wins": per-pair numpy after
crossJoin(broadcast(q)) re-ships the constant query vector with every row,
so Arrow transfer eats the numpy gain.  The winner at every dim is the
closure kernel (make_multi_query_cosine_udf) — corpus crosses Arrow once,
queries live in the closure.  The per-pair kernels below remain for genuine
per-pair inputs (LSH refine, where both sides vary per row).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType


def _stack(s: pd.Series) -> np.ndarray:
    """Series of array<float|double> cells → (batch, dim) float64 matrix."""
    vals = s.to_numpy()
    if len(vals) == 0:
        return np.zeros((0, 1), dtype=np.float64)
    return np.stack([np.asarray(v, dtype=np.float64) for v in vals])


def _dot_np(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return np.einsum("ij,ij->i", a, b)


def cosine_batch_np(a: pd.Series, b: pd.Series) -> pd.Series:
    A, B = _stack(a), _stack(b)
    num = _dot_np(A, B)
    den = np.sqrt(_dot_np(A, A)) * np.sqrt(_dot_np(B, B))
    with np.errstate(divide="ignore", invalid="ignore"):
        out = num / den
    return pd.Series(np.where(den == 0.0, 0.0, out))


def norm_batch_np(a: pd.Series) -> pd.Series:
    A = _stack(a)
    return pd.Series(np.sqrt(_dot_np(A, A)))


# .asNondeterministic() on kernels whose outputs feed FILTERS or JOIN KEYS:
# deterministic in fact, but without the barrier Catalyst pushes the
# null-check / threshold filter below the projection and evaluates the UDF
# TWICE (observed in .explain: two ArrowEvalPython nodes computing the same
# assign()/cosine for isnotnull + the real consumer).
cosine_batch = pandas_udf(cosine_batch_np, returnType=DoubleType()).asNondeterministic()
norm_batch = pandas_udf(norm_batch_np, returnType=DoubleType())


def make_multi_query_cosine_udf(Q: "np.ndarray"):
    """Kernel for query-set-vs-corpus cosine: the (nq, dim) float64 query
    matrix is a closure constant (spark-serialized to every worker — the
    explicit form of broadcasting the small side), so ONLY the corpus
    vector column crosses Arrow, once, and each batch is one
    (batch, dim) @ (dim, nq) product.

    The measured motivation (this sandbox, 100k × 768-dim corpus, one
    back-to-back run): per-pair numpy cosine after crossJoin(broadcast(q))
    re-ships the constant query vector with every row — 5.4s; the JVM HOF
    avoids the transfer but interprets ~4600 lambda evals/row — 7.2s; this
    closure kernel transfers the corpus once — 2.8s.  The gap grows with
    query count (nq queries cost ONE extra matmul column, not nq re-ships).

    einsum (not BLAS matmul) keeps sequential accumulation semantics so
    results are bit-stable against the per-pair einsum kernel above.
    """
    Q = np.asarray(Q, dtype=np.float64)
    qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))  # (nq,)

    def cos_all(v: pd.Series) -> pd.Series:
        X = _stack(v)
        num = np.einsum("ij,kj->ik", X, Q)  # (batch, nq)
        xn = np.sqrt(np.einsum("ij,ij->i", X, X))[:, None]
        den = xn * qn[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(den == 0.0, 0.0, num / den)
        return pd.Series(list(out))

    from pyspark.sql.types import ArrayType

    return pandas_udf(cos_all, returnType=ArrayType(DoubleType()))


def make_indexed_query_cosine_udf(Q: "np.ndarray"):
    """Per-row cosine against ``Q[qpos]`` — for candidate lists where each
    corpus row is paired with ONE query (IVF probe results): inputs are the
    vector column and an int query-index column; Q lives in the closure.
    Arithmetic is the same per-pair einsum as ``cosine_batch`` so results are
    bit-identical to the brute-force path."""
    Q = np.asarray(Q, dtype=np.float64)
    qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))

    def cos_at(v: pd.Series, qpos: pd.Series) -> pd.Series:
        X = _stack(v)
        idx = qpos.to_numpy().astype(np.int64)
        Qg = Q[idx]
        num = np.einsum("ij,ij->i", X, Qg)
        den = np.sqrt(np.einsum("ij,ij->i", X, X)) * qn[idx]
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(den == 0.0, 0.0, num / den)
        return pd.Series(out)

    return pandas_udf(cos_at, returnType=DoubleType())


def make_centroid_assign_udf(C: "np.ndarray"):
    """Nearest-centroid (max cosine) cell id per vector; the (n_cells, dim)
    centroid matrix is a closure constant — one matmul per Arrow batch."""
    C = np.asarray(C, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    def assign(v: pd.Series) -> pd.Series:
        X = _stack(v)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(Xn @ Cn.T, axis=1).astype(np.int32))

    from pyspark.sql.types import IntegerType

    # barrier: the cell becomes a join key; without it the join's pushed
    # isnotnull(cell) filter re-evaluates the whole matmul a second time
    return pandas_udf(assign, returnType=IntegerType()).asNondeterministic()


def make_hyperplane_bucket_udf(planes: list[list[float]]):
    """One Arrow crossing computing ALL hyperplane sign bits → bucket string.

    Replaces n_planes separate HOF dot products (each interpreted per
    element) with a single (batch, dim) @ (dim, n_planes) float64 matmul;
    the '0'/'1' bucket string is built batch-wide via the UCS-4 codepoint
    view (no per-row Python), same trick as functions/simtext._encode.
    """
    P = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)
    n_planes = P.shape[1]

    def bucket(v: pd.Series) -> pd.Series:
        X = _stack(v)
        # einsum (not BLAS @): sign bits feed the DuckDB oracle, whose
        # list_dot_product folds sequentially — BLAS's reordered
        # accumulation could flip a bit on a dot product within rounding
        # error of 0.  Signs are computed once per vector; cost negligible.
        signs = np.einsum("ij,jk->ik", X, P) >= 0.0  # (batch, n_planes)
        codes = np.where(signs, ord("1"), ord("0")).astype(np.uint32)
        s = np.ascontiguousarray(codes).view(f"U{n_planes}").ravel()
        return pd.Series(s)

    # barrier: bucket is the LSH join key (same double-eval risk as assign)
    return pandas_udf(bucket, returnType=StringType()).asNondeterministic()
