"""Candidate-pair generation: blocks → deduplicated unordered doc pairs.

Parity: the reference materializes candidate groups from ES hash/band term
buckets and pairs them up in driver memory (``mediachain/indexer/
mc_dedupe.py`` batch ``dedupe_reindex`` path) — the single-process scaling
wall this rebuild removes.

Scale design (BASELINE.json north_star, verbatim requirements):

- **size cap before the self-join**: a block of n docs makes n(n-1)/2 pairs;
  power-law block sizes would melt a reducer.  Blocks are capped at
  ``max_block_size`` docs, selected deterministically by ``xxhash64(doc_id)``
  (an unbiased pseudo-random but stable sample — not first-seen order).
- **salting**: blocks above ``salt_threshold`` are self-joined via a salted
  triangle decomposition: docs get ``salt = xxhash64(doc_id) mod s``; both
  sides replicate over the broadcast (g1 ≤ g2) grid, and the join key becomes
  (block_key, g1, g2) — the one hot key fans out into s(s+1)/2 balanced
  reducer keys of ≤ (n/s)² work each.
- **shuffle partitioned by blocking key**: the plain path repartitions on
  ``block_key`` so co-blocked docs are co-located; AQE skew-join is on as a
  runtime backstop (session.py).
- **cross-band dedup BEFORE scoring**: the same pair collides in many bands;
  ``dropDuplicates`` on the canonical (doc_a < doc_b) pair happens before any
  scoring so pairs-scored/sec counts real work (BASELINE.md row 2).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mediachain_indexer_spark.operators._cache import hold_until_next_call

# largest cap whose unsalted blocks stay healthy tasks (1024²/2 ≈ 5×10⁵ pairs)
SALT_REQUIRED_ABOVE = 1024


@dataclass(frozen=True)
class PairsConfig:
    max_block_size: int = 256
    # Blocks larger than this route through the salted triangle
    # decomposition.  ``None`` (default since round 6) means "=
    # max_block_size", i.e. salting OFF at the default cap: cap_blocks runs
    # FIRST, so post-cap membership is ≤ max_block_size and one block's
    # pair work is bounded by cap²/2 (256 → ≤ 32.8k pairs — a trivial task
    # on any hardware), which makes salting blocks inside the cap pure
    # overhead by construction, independent of core count or cluster size
    # (measured at the 100k bench: the dead salted subtree still cost two
    # cache scans + grid joins + an SMJ + union, pairs stage 2.2-3.9 s →
    # 1.7-2.0 s with it off; pair set identical).  Callers that RAISE the
    # cap past the point where cap²/2 pairs stops being a healthy task
    # (~10³ members ⇒ ~10⁶ pairs) must set an explicit threshold:
    # __post_init__ rejects a cap above SALT_REQUIRED_ABOVE without one.
    salt_threshold: int | None = None
    n_salts: int = 8
    # How exact-text (e:) blocks turn into pairs:
    #   "clique" (default) — every member pair, capped/salted like any other
    #     block; matches the reference's score-all-candidates semantics and
    #     keeps the pair ledger complete.
    #   "star" — each member pairs only with the block's min doc_id, and the
    #     e: family is EXEMPT from the size cap.  Every star edge is an
    #     equal-text pair (text_sim = 1 ⇒ always a match), so connected
    #     components — and therefore the entity table and pairwise F1 — are
    #     IDENTICAL to clique's on under-cap groups, while a g-member
    #     boilerplate group costs g−1 edges instead of g(g−1)/2 and is never
    #     truncated: under "clique" a 10^7-copy group is capped at
    #     max_block_size members and the rest NEVER join the entity; "star"
    #     keeps all 10^7 with linear work.  The trade: the scored-pair
    #     ledger no longer contains every within-group pair (documented
    #     difference; tests/test_blocking_pairs.py proves cluster equality).
    exact_strategy: str = "clique"

    def __post_init__(self) -> None:
        # a cap below 2 leaves no block that can form a pair; a cap raised
        # past SALT_REQUIRED_ABOVE without a salt threshold would run every
        # hot block as one unsalted task of up to cap²/2 pairs — both are
        # config mistakes that silently change the result or its cost
        if self.max_block_size < 2:
            raise ValueError(
                f"max_block_size must be >= 2, got {self.max_block_size}"
            )
        if self.max_block_size > SALT_REQUIRED_ABOVE and self.salt_threshold is None:
            raise ValueError(
                f"max_block_size {self.max_block_size} > {SALT_REQUIRED_ABOVE} "
                "needs an explicit salt_threshold (blocks above the threshold "
                "are salted before the self-join)"
            )
        # n_salts < 1 leaves the salted triangle grid empty, so every
        # salted block silently yields no pairs; an unknown strategy name
        # would silently run clique
        if self.n_salts < 1:
            raise ValueError(f"n_salts must be >= 1, got {self.n_salts}")
        if self.exact_strategy not in ("clique", "star"):
            raise ValueError(
                "exact_strategy must be 'clique' or 'star', "
                f"got {self.exact_strategy!r}"
            )


def cap_blocks(blocks: DataFrame, max_block_size: int) -> DataFrame:
    """Drop singleton blocks and cap membership per block.

    Members are kept by ``xxhash64(doc_id)`` rank (an unbiased
    pseudo-random but stable sample — not first-seen or lexicographic
    order), so over-cap blocks keep the same members on every run and
    every partitioning.

    Shuffle shape — a measured round-4 dead end is recorded here so it is
    not retried: both count and rank windows share ONE
    hashpartitioning(block_key) exchange and ONE in-partition sort, and
    that sort is also the partitioning the downstream self-join reuses.  A
    "sort-free" variant (sizes via partial-agg groupBy + join-back, rank
    window only on the over-cap slice) was built, proven row-identical at
    every cap, and benchmarked: wall-NEUTRAL at 500k/16c (the stage is
    shuffle-round-bound, not sort-bound), then strictly worse at 4M docs —
    a shuffle-hash hint on the join-back OOM'd
    (ShuffledHashJoinExec.buildHashedRelation cannot spill its build side
    while the feature/block caches hold the unified-memory pool), and the
    planner's sort-merge fallback tripled the stage wall (85.6 → 260 s:
    TWO spilling SMJ sorts + an extra exchange replacing one in-memory
    window sort that never actually spilled).  The window formulation
    stays; BENCH/BASELINE.md Study E carries the numbers.

    Round 6 sharpening of that shape: the rank key xxhash64(doc_id) is
    projected ONCE (``_rk``) and the size count runs over the SAME ordered
    window spec with an unbounded frame, so the two window expressions get
    identical (partition, order) specs, CollapseWindow merges them into ONE
    WindowExec and EnsureRequirements plans ONE sort — previously the two
    xxhash64 instances had distinct expression ids, which forced two Window
    operators and two in-partition sorts of the full block table (plan +
    A/B: plans/r06/er_pairs_{before,after}.txt, row-identical at every cap).
    Count-over-ordered-full-frame ≡ count-over-unordered: same value per
    row.
    """
    w = Window.partitionBy("block_key").orderBy(F.col("_rk"), F.col("doc_id"))
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        blocks.withColumn("_rk", F.xxhash64("doc_id"))
        .withColumn("bsize", F.count("*").over(w_full))
        .withColumn("brank", F.row_number().over(w))
        .where((F.col("bsize") >= 2) & (F.col("brank") <= max_block_size))
        # recompute size after the cap so routing below sees capped sizes
        .withColumn("bsize", F.least(F.col("bsize"), F.lit(max_block_size)))
        .drop("brank", "_rk")
    )


def _exact_suppression_filter() -> "F.Column":
    """Keep-predicate dropping duplicate emissions of exact-text pairs.

    An identical-``norm_text`` pair collides in every MinHash band
    (identical signatures ⇒ identical band keys) AND on the ``e:`` exact
    key, so it would enter the raw pair table ~(1 + minhash_bands) times —
    measured as the dominant share of the cross-band dedup shuffle.  The
    pair is emitted ONLY from its ``e:`` block; ``t:``/``p:`` blocks drop
    it map-side (pure codegen filter, no extra shuffle).  The final
    distinct pair SET is unchanged: every suppressed emission has the same
    ``e:``-keyed emission surviving (both docs share the exact hash, i.e.
    the e: block key itself).  One documented edge: on an over-cap exact
    block (> max_block_size identical docs) a pair cut by the e: cap is no
    longer recoverable via a t-band block's independently-capped sample —
    immaterial, the cap is already a lossy sampler on such blocks.
    """
    return (
        F.col("block_key").startswith("e:")
        | F.col("exact_a").isNull()
        | F.col("exact_b").isNull()
        | (F.col("exact_a") != F.col("exact_b"))
    )


def _plain_pairs(blocks: DataFrame) -> DataFrame:
    """Equi self-join inside small blocks; strict < gives each pair once.

    No explicit repartition: the upstream cap-window already hash-partitioned
    by block_key, the join's distribution requirement reuses that exchange
    (self-join of one subtree → ReusedExchange), and an explicit
    ``repartition`` would force a SECOND full shuffle of the block table.
    """
    lcols = ["block_key", F.col("doc_id").alias("doc_a"), F.col("exact_hash").alias("exact_a")]
    rcols = ["block_key", F.col("doc_id").alias("doc_b"), F.col("exact_hash").alias("exact_b")]
    return (
        blocks.select(*lcols)
        .join(blocks.select(*rcols), "block_key")
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(_exact_suppression_filter())
        .select("doc_a", "doc_b")
    )


def _salted_pairs(blocks: DataFrame, cfg: PairsConfig) -> DataFrame:
    """Triangle-decomposed self-join for oversized blocks."""
    spark = blocks.sparkSession
    s = cfg.n_salts
    grid = spark.createDataFrame(
        [(g1, g2) for g1 in range(s) for g2 in range(g1, s)], "g1 int, g2 int"
    )
    salted = blocks.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(s)).cast("int")
    )
    lcols = ["block_key", "g1", "g2", F.col("doc_id").alias("doc_a"),
             F.col("exact_hash").alias("exact_a")]
    rcols = [
        F.col("block_key").alias("r_block_key"),
        F.col("g1").alias("r_g1"),
        F.col("r_g2"),
        F.col("doc_id").alias("doc_b"),
        F.col("exact_hash").alias("exact_b"),
    ]
    left = salted.join(F.broadcast(grid), salted["salt"] == grid["g1"]).select(*lcols)
    right = salted.join(
        F.broadcast(grid.withColumnRenamed("g2", "r_g2")),
        salted["salt"] == F.col("r_g2"),
    ).select(*rcols)
    joined = left.join(
        right,
        (left["block_key"] == right["r_block_key"])
        & (left["g1"] == right["r_g1"])
        & (left["g2"] == right["r_g2"]),
    )
    # same-salt cell: strict < once; cross-salt cell (g1<g2): all pairs, each
    # unordered pair appears in exactly one cell — canonicalize order after.
    out = joined.where(
        ((F.col("g1") == F.col("g2")) & (F.col("doc_a") < F.col("doc_b")))
        | (F.col("g1") < F.col("g2"))
    ).where(_exact_suppression_filter())
    return out.select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
    )


def candidate_pairs(blocks: DataFrame, cfg: PairsConfig = PairsConfig()) -> DataFrame:
    """blocks(block_key, doc_id, exact_hash) → distinct pairs (doc_a < doc_b).

    The one input shape is ``build_blocks``' output — the batch pipeline
    passes it directly, the incremental store persists and reads it back.
    Duplicate emissions of identical-text pairs are suppressed map-side in
    the non-``e:`` families (``_exact_suppression_filter``): same distinct
    pair set, far smaller raw pair table into the cross-band dedup.  A null
    ``exact_hash`` (empty text) suppresses nothing.
    """
    cols = ["block_key", "doc_id", "exact_hash"]
    star = None
    if cfg.exact_strategy == "star":
        # e: blocks become uncapped min-rooted stars (see PairsConfig).  One
        # groupBy + join on block_key (shared exchange); the join of a hot
        # boilerplate key is skew-split by AQE — output is linear in the
        # block size either way, which is the point.
        e_blocks = blocks.where(F.col("block_key").startswith("e:")).select(
            "block_key", "doc_id"
        )
        roots = e_blocks.groupBy("block_key").agg(
            F.min("doc_id").alias("doc_a"), F.count("*").alias("n")
        )
        star = (
            e_blocks.join(roots.where(F.col("n") >= 2), "block_key")
            .where(F.col("doc_id") != F.col("doc_a"))
            .select("doc_a", F.col("doc_id").alias("doc_b"))
        )
        blocks = blocks.where(~F.col("block_key").startswith("e:"))
    # materialize the capped block table once before fanning into the
    # small/salted join inputs: the staged subtree feeds up to FOUR join
    # inputs (left/right × plain/salted) and Spark's exchange reuse does NOT
    # fire across them (verified on the executed plan: 4 full recomputations
    # of scan→MinHash→window, zero ReusedExchange) — measured 9.4s → 5.3s
    # for the pairs stage at the 100k bench.  A cache held until the next
    # call (operators/_cache.py), not a localCheckpoint: an InMemoryRelation
    # keeps the cap window's hashpartitioning(block_key) and sort order, so
    # the small-block self-join runs with no exchange, no sort and no
    # broadcast build, where the checkpoint's UnknownPartitioning made the
    # planner broadcast-build a ~1M-row hash relation (OPTIMIZATION_r06.md).
    staged = cap_blocks(blocks, cfg.max_block_size)
    hold_until_next_call("candidate_pairs", staged)
    # None → "= cap": post-cap block size never exceeds max_block_size, so
    # the salted branch is provably empty — elide the whole subtree (and
    # the routing filter) instead of planning dead scans/joins over it
    # (see PairsConfig.salt_threshold)
    thr = (
        cfg.salt_threshold
        if cfg.salt_threshold is not None
        else cfg.max_block_size
    )
    if thr >= cfg.max_block_size:
        small = staged.select(*cols)
        big = None
    else:
        small = staged.where(F.col("bsize") <= thr).select(*cols)
        big = staged.where(F.col("bsize") > thr).select(*cols)
    # pin the self-join strategy to sort-merge: the cached staged table is
    # already hash-partitioned AND sorted by block_key (cap window), so this
    # SMJ has zero exchanges and zero sorts — strictly cheaper than the
    # planner's stats-driven pick, a broadcast hash join that collects and
    # hash-builds the ~1M-row capped table every run (measured at the 100k
    # bench: see OPTIMIZATION_r06.md)
    small = small.hint("merge")
    pairs = _plain_pairs(small)
    if big is not None:
        pairs = pairs.unionByName(_salted_pairs(big, cfg))
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.dropDuplicates(["doc_a", "doc_b"])
