"""Deduplication operator family over flat text tables.

The ER pipeline (normalize→block→score→cluster) is the flagship; these are
the reusable building blocks a large-scale training-data pipeline needs,
each expressed as a DataFrame program over ``documents(doc_id, text, ...)``:

- exact dedup         — hash groupBy on a normalized key
- MinHash near-dup    — shingle → MinHash → LSH band → bucket join
- SimHash             — 64-bit per-bit majority over token hashes,
                        Hamming-ball candidates
- n-gram Jaccard      — exact set similarity on shingle sets (small sets /
                        verification tier)
- embedding cosine    — see operators/similarity.py

Parity anchor: the reference's dedupe candidate models
(``mediachain/indexer/mc_dedupe.py`` baseline = exact hash terms,
``baseline_ng`` = banded near-dup), generalized from media hashes to text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mediachain_indexer_spark.functions.minhash import (
    lsh_band_keys,
    make_minhash_udf,
)
from mediachain_indexer_spark.functions.text import norm_text, tokens
from mediachain_indexer_spark.operators._cache import hold_until_next_call


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", max_members: int = 1000
) -> DataFrame:
    """Groups of docs with identical normalized text.

    Scale: one hash aggregation on a 64-bit key (not the raw text — group by
    xxhash64 keeps shuffle rows narrow; collisions at 10^12 docs are
    ~Birthday(1e12, 2^64) ≈ 2.7% chance of ONE collision corpus-wide and the
    group members carry the text for an exact confirm).

    ``members`` is capped at ``max_members`` per group *inside the
    aggregation buffer*: a web-scale mega-group (empty strings, boilerplate —
    easily 10^7 copies) would otherwise concentrate every member in one
    reducer's collect_list.  A row_number window ranks members first (the
    window and the groupBy share the same hashpartitioning(text_key), so
    EnsureRequirements inserts ONE exchange and the window's sort spills
    instead of ballooning an agg buffer); collect_list then only ever sees
    ≤ max_members non-null values per group.  ``n_docs`` stays exact.
    """
    from pyspark.sql import Window

    d = docs.select(
        F.col("doc_id"), F.xxhash64(norm_text(F.col(text_col))).alias("text_key")
    )
    rn = F.row_number().over(Window.partitionBy("text_key").orderBy("doc_id"))
    return (
        d.withColumn("rn", rn)
        .groupBy("text_key")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("representative"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("rn") <= max_members, F.col("doc_id"))
                )
            ).alias("members"),
        )
        .where(F.col("n_docs") >= 2)
    )


def minhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    bands: int = 16,
    rows_per_band: int = 4,
    shingle_n: int = 5,
    seed: int = 42,
    verify_jaccard: float | None = None,
    broadcast_max_grams: int = 16_000_000,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash-LSH banding.

    shingle → MinHash (vectorized Arrow UDF) → band → bucket self-join →
    distinct pairs.  The same (b, r) S-curve machinery as the ER blocking
    stage, packaged for flat text tables.

    ``verify_jaccard``: the (b=16, r=4) S-curve is recall-biased (its 50%
    threshold sits near s≈0.5, so low-similarity junk collides at web
    scale).  When set, candidates are REFINED with the exact shingle
    Jaccard — computed per candidate pair via two narrow joins against the
    per-doc gram sets (never a cross join; cost is O(candidates)), keeping
    only pairs with true similarity ≥ the cut.  This is the classic
    LSH→verify tier: banding bounds the candidate count, verification
    bounds the false-positive rate.
    """
    # a single-file parquet source arrives as ONE partition and every
    # narrow stage (MinHash signatures, gram hashing) serializes on one
    # core until the first shuffle — spread the docs first (round-1
    # memory: fixture writers emit ≥64 files for exactly this reason)
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    mh = make_minhash_udf(bands * rows_per_band, shingle_n, seed)
    sig = docs.select(
        "doc_id", mh(norm_text(F.col(text_col))).alias("sig")
    ).where(F.col("sig").isNotNull())
    # band keys '<b>:<xxhash64 of slice>' via the shared UNROLLED builder
    # (functions/minhash.lsh_band_keys with an empty family prefix) — byte-
    # identical to the old inline transform(sequence(...)) form but pure
    # whole-stage codegen instead of an interpreted HOF lambda (round 6)
    banded = sig.select(
        "doc_id",
        F.explode(
            lsh_band_keys(F.col("sig"), bands, rows_per_band, prefix="")
        ).alias("band_key"),
    )
    a = banded.select("band_key", F.col("doc_id").alias("doc_a"))
    b = banded.select("band_key", F.col("doc_id").alias("doc_b"))
    # the join shuffles by band_key itself (EnsureRequirements); an explicit
    # repartition here would just add a redundant exchange
    cand = (
        a.join(b, "band_key")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    if verify_jaccard is None:
        return cand
    # Exact-Jaccard verification, engineered for per-PAIR cheapness:
    #
    # 1. the per-doc gram set is hashed to a sorted distinct int64 array
    #    ONCE, and only for docs that PARTICIPATE in a candidate pair
    #    (left-semi prune) — O(candidate docs × grams), never O(pairs ×
    #    grams) and never O(corpus) at web scale;
    # 2. a JVM size-ratio gate drops pairs before any gram array moves:
    #    J(A,B) = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|), so a pair whose
    #    set-size ratio is already below the cut cannot verify — only doc_id
    #    + one int cross that join;
    # 3. gram arrays attach to the survivors via an explicitly-broadcast
    #    join when the pruned gram table is small enough (measured 3×
    #    transport win vs the sort-merge shuffle, which re-serializes the
    #    wide arrays through the exchange); above the threshold it stays a
    #    shuffle join (prod: bucket the gram table by doc_id);
    # 4. the per-pair intersection runs in a batch numpy kernel (below) —
    #    no per-pair Python.
    #
    # Measured at sf0.1 (5k docs, 393,749 raw candidates → 256 verified),
    # candidates+verify end-to-end: 84.5s round 1 (interpreted
    # array_intersect per pair) → 17.6s round 2 (per-pair np.intersect1d
    # loop) → ~7s with this shape (verify portion 13.2s → ~3s).
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    gram_hashes = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.length(norm_text(F.col(text_col))) - shingle_n, F.lit(0)
                    ),
                ),
                lambda i: F.xxhash64(
                    norm_text(F.col(text_col)).substr(i + F.lit(1), F.lit(shingle_n))
                ),
            )
        )
    )
    # The returned DataFrame's lineage still traverses cand (1×, it also
    # feeds the participant prune) and grams (4×: sza/szb/ga/gb — each
    # including the banding self-join via the participant prune), so both
    # stay cached until this function's next call (operators/_cache.py).
    participants = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    grams = docs.join(participants, "doc_id", "left_semi").select(
        "doc_id", gram_hashes.alias("g")
    )
    hold_until_next_call("minhash_near_duplicates", cand, grams)
    total_grams = grams.agg(F.sum(F.size("g"))).collect()[0][0] or 0

    # JVM size-ratio gate (exact upper bound, narrow columns only)
    sizes = grams.select("doc_id", F.size("g").alias("sz"))
    sza = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    szb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    ratio_ub = F.least("sz_a", "sz_b") / F.greatest("sz_a", "sz_b")
    # one broadcast decision drives both joins: under the threshold
    # (default 16M grams ≈ 128 MB int64 payload — comfortably inside a
    # production executor's broadcast budget) the pruned gram table (and a
    # fortiori the int-sized table) ships to every executor once instead of
    # re-serializing wide arrays through a sort-merge exchange (measured 3×
    # transport win); above it, shuffle joins (prod: bucket by doc_id)
    bcast = total_grams <= broadcast_max_grams
    maybe_b = F.broadcast if bcast else (lambda df: df)
    surv = (
        cand.join(maybe_b(sza), "doc_a")
        .join(maybe_b(szb), "doc_b")
        .where(ratio_ub >= verify_jaccard)
        .select("doc_a", "doc_b")
    )

    # no type hints: PEP-563 string annotations can't resolve the locally
    # imported pd at UDF-registration time; returnType carries the schema
    #
    # Batch sorted-merge intersection, NO per-pair Python loop (the round-2
    # kernel ran np.intersect1d per pair — measured 4.8× over interpreted
    # HOFs but still row-at-a-time; this shape is another ~4× on the sf0.1
    # verify stage): both gram sets are scattered into one padded
    # (chunk, wa+wb) int64 matrix with a validity mask, each row is sorted
    # with valid-before-pad tie-breaking (np.lexsort), and |A∩B| is the
    # count of ADJACENT equal valid values — each side is distinct
    # (array_distinct upstream), so a shared value appears exactly twice.
    # The validity mask (not a pad sentinel) keeps the count exact even if a
    # data hash collides with the pad value.  Chunking bounds the padded
    # matrix at ~32 MB however wide the gram sets get.
    _PAD = np.iinfo(np.int64).max

    def jaccard_hashed(a, b):
        xs, ys = a.to_numpy(), b.to_numpy()
        n = len(xs)
        out = np.empty(n, dtype=np.float64)
        if n == 0:
            return pd.Series(out)
        sza = np.fromiter((len(x) for x in xs), count=n, dtype=np.int64)
        szb = np.fromiter((len(y) for y in ys), count=n, dtype=np.int64)
        w_max = int((sza + szb).max())
        # no row floor: with one, a batch of megabyte-scale docs (w_max ≫
        # 15k grams) would allocate floor·w_max·8 bytes — gigabytes — and
        # OOM the Python worker; rows=1 keeps every chunk ≤ ~32 MB (a
        # single pair wider than that is irreducible: one row IS the pair)
        rows = max(1, 4_000_000 // max(w_max, 1))
        for lo in range(0, n, rows):
            hi = min(lo + rows, n)
            m = hi - lo
            ca, cb = sza[lo:hi], szb[lo:hi]
            wa = int(ca.max(initial=0))
            wb = int(cb.max(initial=0))
            Z = np.full((m, wa + wb), _PAD, dtype=np.int64)
            pad_collision = False
            for side_sz, side_vals, off in ((ca, xs[lo:hi], 0), (cb, ys[lo:hi], wa)):
                total = int(side_sz.sum())
                if not total:
                    continue
                r_idx = np.repeat(np.arange(m), side_sz)
                starts = np.concatenate(([0], np.cumsum(side_sz)[:-1]))
                c_idx = off + np.arange(total) - np.repeat(starts, side_sz)
                flat = np.concatenate(side_vals).astype(np.int64, copy=False)
                pad_collision |= bool((flat == _PAD).any())
                Z[r_idx, c_idx] = flat
            if not pad_collision:
                # fast path: pads sort strictly after every data value, so a
                # plain single-key sort suffices (≈2× cheaper than lexsort)
                Zs = np.sort(Z, axis=1)
                eq = (Zs[:, 1:] == Zs[:, :-1]) & (Zs[:, 1:] != _PAD)
            else:
                # a data hash equals the pad value (p ≈ grams·2⁻⁶⁴): exact
                # fallback — validity-masked lexsort, valid-before-pad ties
                V = Z != _PAD
                for side_sz, side_vals, off in ((ca, xs[lo:hi], 0), (cb, ys[lo:hi], wa)):
                    total = int(side_sz.sum())
                    if not total:
                        continue
                    r_idx = np.repeat(np.arange(m), side_sz)
                    starts = np.concatenate(([0], np.cumsum(side_sz)[:-1]))
                    c_idx = off + np.arange(total) - np.repeat(starts, side_sz)
                    V[r_idx, c_idx] = True
                order = np.lexsort((~V, Z), axis=1)
                Zs = np.take_along_axis(Z, order, axis=1)
                Vs = np.take_along_axis(V, order, axis=1)
                eq = (Zs[:, 1:] == Zs[:, :-1]) & Vs[:, 1:] & Vs[:, :-1]
            inter = eq.sum(axis=1)
            union = ca + cb - inter
            out[lo:hi] = np.where(union == 0, 1.0, inter / np.maximum(union, 1))
        return pd.Series(out)

    # barrier: the result feeds the threshold filter (see vecmath.py note)
    jac_udf = pandas_udf(jaccard_hashed, returnType=DoubleType()).asNondeterministic()
    ga = grams.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
    gb = grams.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"))
    verified = surv.join(maybe_b(ga), "doc_a").join(maybe_b(gb), "doc_b")
    return (
        verified.withColumn("jac", jac_udf(F.col("ga"), F.col("gb")))
        .where(F.col("jac") >= verify_jaccard)
        .select("doc_a", "doc_b")
    )


def simhash64(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc — per-bit majority vote over token hashes.

    Pure JVM, shuffle-lean: tokens → xxhash64 → ONE groupBy(doc_id) with 64
    conditional-sum aggregates (partial aggregation combines map-side), then
    the 64 majority bits fold into one long.  No row explosion: the naive
    formulation (explode 64 (bit, vote) rows per token) multiplies shuffle
    volume 64× — this keeps it at one 64-column row per doc.  Near-dup docs
    differ in few bits (compare with ``bit_count(a ^ b)``).
    """
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("tok")
    ).where(F.length("tok") > 0)
    h = tok.select("doc_id", F.xxhash64("tok").alias("h"))
    votes = [
        F.sum(
            F.when(
                F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"v{i}")
        for i in range(64)
    ]
    agg = h.groupBy("doc_id").agg(*votes)
    sim = F.lit(0).cast("long")
    for i in range(64):
        bit = (1 << i) if i < 63 else -(1 << 63)  # bit 63 = sign bit of int64
        sim = sim.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.lit(bit).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return agg.select("doc_id", sim.alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.0,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard between every doc pair sharing ≥ 1 gram.

    Scale shape (co-gram equi-join, never a cross join): explode the distinct
    gram set per doc → self-equi-join on the gram → count common grams per
    pair → join per-doc set sizes → |A∩B| / (|A|+|B|−|A∩B|).  The shuffle is
    partitioned by gram; pairs with NO shared gram are never materialized
    (their Jaccard is 0, so they can't pass any positive threshold — callers
    wanting explicit zero rows must cross-join a candidate list themselves).

    ``max_doc_freq``: at web scale a stop-gram present in m docs fans out to
    m(m−1)/2 join rows; dropping grams with document frequency > max_doc_freq
    bounds the blow-up (standard df-cut; makes the score approximate, so it
    is OFF by default and callers opt in at scale).
    """
    grams = docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.length(norm_text(F.col(text_col))) - n, F.lit(0)),
                ),
                lambda i: norm_text(F.col(text_col)).substr(i + F.lit(1), F.lit(n)),
            )
        ).alias("grams"),
    )
    sizes = grams.select("doc_id", F.size("grams").alias("sz"))
    g = grams.select("doc_id", F.explode("grams").alias("gram"))
    if max_doc_freq is not None:
        from pyspark.sql import Window

        df_cnt = F.count("*").over(Window.partitionBy("gram"))
        g = g.withColumn("_df", df_cnt).where(F.col("_df") <= max_doc_freq).drop("_df")
    a = g.select(F.col("doc_id").alias("doc_a"), "gram")
    b = g.select(F.col("doc_id").alias("doc_b"), "gram")
    inter = (
        a.join(b, "gram")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    out = inter.join(sa, "doc_a").join(sb, "doc_b")
    union = F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    jac = F.when(union == 0, F.lit(1.0)).otherwise(F.col("n_common") / union)
    return out.select(
        "doc_a",
        "doc_b",
        "n_common",
        union.alias("n_union"),
        F.round(jac, 4).alias("jaccard"),
    ).where(F.col("jaccard") >= min_jaccard)
