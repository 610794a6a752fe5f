"""Transitive clustering: accepted match edges → connected components.

Parity: the reference runs union-find over accepted pairs in driver memory
and writes a canonical dupe-cluster id per doc back to ES
(``mediachain/indexer/mc_dedupe.py``, ``dedupe_reindex``-style batch job).
A driver-memory union-find caps out at one machine; the Spark-first rebuild
is the **large-star / small-star** alternating algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14): O(log n) rounds of
pure DataFrame joins + min-aggregations, shuffling by node id each round.

Before the loop, each partition of the edge set is contracted in place by a
numpy union-find (``_local_roots``, one ``mapInPandas`` pass, no shuffle):
every node that is not its partition-local component minimum is re-pointed
straight at that minimum.  The loop then starts from a star forest on ER
near-cliques and stops at its first convergence check.

Critical scale details:

- ``localCheckpoint`` every round truncates the logical plan — without it
  round N's plan embeds all N-1 prior joins and the driver dies on plan
  size (SURVEY.md §7.3);
- convergence is the star-forest property tested directly (one degree
  aggregate per round — see ``connected_components``), which stops the loop
  one full round earlier than change-detection schemes;
- ids are compared with natural ordering (doc_ids are zero-padded), and the
  final component id is the component *minimum* — a deterministic canonical
  id, independent of visit order.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mediachain_indexer_spark.operators._cache import hold_until_next_call


def _local_roots(edges: pd.DataFrame) -> pd.DataFrame:
    """Union-find over one chunk of edges ``(u, v)`` → ``(u, v)`` rows
    ``(node, root)``, one for every node that is not the minimum of its
    component within the chunk; ``root`` is that minimum.

    Ids are coded with ``pd.factorize(sort=True)``, so code order is id order
    (code-point order for strings, which is Spark's UTF-8 byte order) and
    the smallest code of a component is its smallest id.  Min-label hooking
    plus pointer jumping, numpy only: each round every edge whose endpoints
    have different roots hooks the larger root under the smaller one
    (``np.minimum.at`` keeps the least candidate), then pointer jumping
    flattens every tree to depth one.  Parents only ever point at smaller
    codes, so no cycle can form; each live round removes at least one root,
    and edges whose endpoints already share a root are dropped for good.
    """
    n_edges = len(edges)
    codes, ids = pd.factorize(
        pd.concat([edges["u"], edges["v"]], ignore_index=True), sort=True
    )
    ids = np.asarray(ids)
    a, b = codes[:n_edges], codes[n_edges:]
    parent = np.arange(len(ids))
    while True:
        ra, rb = parent[a], parent[b]
        live = ra != rb
        if not live.any():
            break
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
    members = np.flatnonzero(parent != np.arange(len(ids)))
    return pd.DataFrame({"u": ids[members], "v": ids[parent[members]]})


def _contract_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` worker: one partition's edges → its ``_local_roots``
    (an empty partition yields no rows)."""
    frames = list(batches)
    if frames:
        yield _local_roots(pd.concat(frames, ignore_index=True))


def _contracted_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The loop's entry edge set: ``(src, dst)`` renamed to ``(u, v)``,
    self-loops dropped, and each partition contracted by ``_local_roots``.

    Exact for ANY partitioning: every emitted edge joins two nodes of one
    component (a local component lies inside a global one), and the two
    endpoints of every input edge share a local root, so each input edge
    stays connected through the output.  Components, and so their minima,
    are unchanged; a component split across partitions just leaves the
    loop more than one star to merge.  The pass runs in the partitioning
    the edges arrive in: no exchange.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u") != F.col("v")
    )
    return e.mapInPandas(_contract_partition, e.schema)


def _star_stats(edges: DataFrame) -> DataFrame:
    """Per-node min/max UNDIRECTED neighbor — the one aggregate each star op
    needs (see the loop in ``connected_components``): ``(u, mn, mx)``."""
    und = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    return und.groupBy("u").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))


def _non_star_nodes(stats: DataFrame) -> DataFrame:
    """Rows of a ``_star_stats`` frame that break the star-forest property.

    Zero rows ⇔ the edge set is a min-rooted star forest (the loop's
    fixpoint): a node with a smaller neighbor is a member, and a member
    must have exactly one distinct neighbor (its root).  The test covers
    both failure shapes — a 2-hop chain u→v→w (v has a smaller AND a
    larger neighbor) and a multi-parent member with no chain (e.g.
    {(3,1),(5,1),(3,2),(6,2)}: node 3 has neighbors 1 and 2, yet no v
    appears as a u; that state is not a fixpoint).  min≠max rather than a
    count keeps it correct on duplicate edges left in the stream.
    """
    return stats.where((F.col("mn") < F.col("u")) & (F.col("mn") != F.col("mx")))


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """edges(src, dst) → (doc_id, entity_id) for every node in the edge set.

    entity_id = min node id of the component.  Nodes absent from ``edges``
    (singletons) are the caller's to add — see ``attach_components``.

    Latency engineering: the loop is round-trip-bound, not data-bound —
    each round is a handful of small shuffles whose cost is task-launch
    latency.  Three levers:

    (0) fewer ops: the entry edges are contracted partition by partition
        (``_contracted_edges``: one ``mapInPandas`` numpy union-find in the
        partitioning the edges arrive in, so no exchange and no option).
        Exact for any partitioning — see ``_contracted_edges``.  A
        component whose edges all sit in one partition arrives as a
        finished min-rooted star, so on ER near-cliques the loop's first
        check already passes: over ``run_pipeline``'s AQE-coalesced scored
        cache (one partition at 2,000 and 20,000 docs) the loop runs ONE
        convergence check instead of three (with two star ops between
        them), and the whole call is two Spark jobs (entry count + check).
        Components split across partitions leave stars for the loop to
        merge, as before.
    (a) convergence is the STAR-FOREST property itself, not fingerprint
        stability across rounds: after any large★/small★ round every edge
        points larger→smaller, so an edge set with no 2-hop chain and no
        multi-parent member (``_non_star_nodes`` empty) is a min-rooted
        star forest — which is exactly the algorithm's fixpoint (both
        operators preserve connectivity, so each star is a whole component,
        and the root, being smaller than every member, is the component
        min).  Testing the property directly stops the loop the moment the
        answer exists; the old fingerprint-equality scheme needed one extra
        full round just to observe that nothing changed (measured on the
        100k bench graph: 2 rounds instead of 3-4, 6.4s → 2.8s,
        bit-identical output).  One undirected min/max-neighbor groupBy
        per star op (``_star_stats``) serves the convergence test AND both
        ops' minima, its count doubles as the action that materializes the
        op's lazy checkpoint — one Spark job per op — and on the converged
        op the aggregate IS the component assignment, read back out of its
        cache instead of re-shuffling the edge set through a members∪roots
        distinct.  Ops alternate small★-first (see the loop comment).
    (b) the loop runs at its own DATA-sized shuffle width: ~1 partition per
        300k edges, clamped to [8, max(16, 2×parallelism)] — a 340k-edge
        graph loops at 8 partitions instead of 32+, roughly halving
        per-round task-launch overhead, while a 6.7M-edge graph still gets
        the full width.  The sizing count() runs over the CONTRACTED edges
        and doubles as the action that materializes the entry checkpoint.
    """
    spark = edges.sparkSession
    old_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    _cached: list[DataFrame] = []
    try:
        # AQE off for the loop (restored after): each round is a fixed
        # 5-exchange DAG over hand-sized partitions, and AQE's per-exchange
        # re-planning barrier adds ~35% wall at bench scale (measured
        # 3.7s → 2.4s warm on the 337k-edge graph) while buying nothing —
        # the aggregations are partial-agg (map-side combine) so value skew
        # on hot node ids never concentrates a shuffle, and the loop width
        # is already data-sized below.  Re-tried after the union-find
        # contraction (4-core host): neutral on the 2,000-doc pipeline,
        # and the 100k-doc bench cluster stage went 5.69 → 6.84 s median.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # no entry distinct (it would be a full shuffle of the edge set):
        # the partition-local contraction emits each node at most once per
        # partition, and the rounds are duplicate-insensitive end to end —
        # groupBy minima absorb dup edges, the violations test compares
        # min/max parents, and the final assignment reads the converged
        # groupBy.
        e = _contracted_edges(edges, src, dst).localCheckpoint(eager=False)
        n_edges = e.count()  # contracted edges; materializes the checkpoint
        width_cap = min(
            int(old_shuffle), max(16, spark.sparkContext.defaultParallelism * 2)
        )
        cc_parts = min(width_cap, max(8, -(-n_edges // 300_000)))
        spark.conf.set("spark.sql.shuffle.partitions", str(cc_parts))

        # Ground BOTH the plan and the statistics each op.  localCheckpoint
        # truncates the logical plan — REQUIRED every op, not periodically:
        # each op's plan references the previous edge frame ~4× (undirected
        # union + the stats join), so Catalyst's tree-walk cost between
        # truncations grows 4^k per op and a round-6 experiment that
        # checkpointed only every 8th op hung the 300-node path-graph test
        # in analysis before the first truncation (do not retry).  The lazy
        # LogicalRDD INHERITS the child plan's sizeInBytes estimate, and
        # every join SQUARES that estimate: the bit-length of the stat
        # doubles per op (measured: 496 → 989 → 1977 → 3952 → 7902 bits
        # over five ops) until BigInteger stats math OOMs the driver around
        # op ~25 — a latent bug at high diameters under the old per-round
        # loop too (max_iter=50 was unreachable).  A persist() over the
        # checkpointed frame fixes it: after the count materializes the
        # cache, planning sees the InMemoryRelation's REAL byte size
        # (measured: flat 11 bits every op) — which also lets JoinSelection
        # broadcast the per-node minima when they are genuinely small and
        # shuffle when they are not.
        def _ground(df: DataFrame) -> DataFrame:
            g = df.localCheckpoint(eager=False).persist()
            _cached.append(g)
            return g

        comp = None
        # small★ FIRST: convergence is order-independent (both ops preserve
        # connectivity; the fixpoint test is exact), but the starting op is
        # not free — ER match graphs are near-cliques, which one small★
        # collapses almost entirely (measured on the 337k-edge bench graph:
        # small-first converges in 3 ops vs large-first's 4, loop wall
        # 1.9s vs 2.6s), and on path graphs large★ is a no-op anyway.
        op_large = False
        for _op in range(2 * max_iter):
            # ONE undirected groupBy per star op, triple duty:
            # (a) convergence check — min-rooted star forest ⇔ no node has
            #     a smaller neighbor AND distinct min/max neighbors
            #     (mn < u ⇒ member, needs exactly one distinct neighbor);
            # (b) large★ minima — m(u) = least(mn, u);
            # (c) small★ minima — min SMALLER neighbor = mn whenever
            #     mn < u, which covers every u-side of the oriented view.
            # The old shape paid a separate deg groupBy per composite round
            # (5 exchanges per 2 ops + check); this is 2 per op with the
            # check free, and the loop can exit at half-round boundaries.
            # persist WITHOUT localCheckpoint: stats' child is already the
            # checkpointed e (an RDD scan, one level deep), so there is no
            # plan growth to truncate — and localCheckpoint(eager=False)
            # converts to an RDD at CALL time, paying a synchronous
            # driver-side Catalyst planning pass (~0.1-0.2s each; measured
            # ~0.85s/call across the loop's six grounded frames).  The
            # persist still grounds sizeInBytes for JoinSelection.
            stats = _star_stats(e).persist()
            _cached.append(stats)
            if _non_star_nodes(stats).count() == 0:
                # stats has every node exactly once; members (mn < u) carry
                # their root in mn, roots (mn > u) map to themselves.  The
                # result is a narrow projection of the cached aggregate,
                # held until the next call (operators/_cache.py) so the
                # caller's first materialization is a cache read, with no
                # extra job here.  If a later call evicts it first, the
                # projection recomputes as one groupBy over the held
                # checkpoint blocks.
                comp = stats.select(
                    F.col("u").alias("doc_id"),
                    F.least("u", "mn").alias("entity_id"),
                )
                _cached.remove(stats)
                hold_until_next_call("connected_components", stats)
                break
            if op_large:
                und = e.select("u", "v").unionByName(
                    e.select(F.col("v").alias("u"), F.col("u").alias("v"))
                )
                mins = stats.select("u", F.least("mn", "u").alias("m"))
                e = (
                    und.join(mins, "u")
                    .where(F.col("v") > F.col("u"))
                    .select(F.col("v").alias("u"), F.col("m").alias("v"))
                )
            else:
                oriented = e.select(
                    F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
                )
                mins = stats.where(F.col("mn") < F.col("u")).select(
                    "u", F.col("mn").alias("m")
                )
                e = (
                    oriented.join(mins, "u")
                    .where(F.col("v") != F.col("m"))
                    .select(F.col("v").alias("u"), F.col("m").alias("v"))
                    .unionByName(mins.select("u", F.col("m").alias("v")))
                )
            e = _ground(e)
            # frames older than the live window {e_prev, stats, e_new} are
            # only reachable through checkpoint blocks now — drop their
            # cache layer so the loop holds O(1) frames however many ops run
            while len(_cached) > 3:
                _cached.pop(0).unpersist()
            op_large = not op_large
        if comp is None:
            raise RuntimeError(
                f"connected_components: no convergence in {max_iter} iters"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_shuffle)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        for _df in _cached:
            _df.unpersist()
    return comp


def attach_components(all_docs: DataFrame, components: DataFrame) -> DataFrame:
    """(doc_id) × (doc_id, entity_id) → every doc with an entity id.

    Singletons (docs in no accepted pair) become their own entity — the same
    canonical-id convention (min doc_id = itself).

    ``all_docs`` only needs a ``doc_id`` column: pass the pipeline's
    PERSISTED features frame (1:1 with the raw docs) rather than the raw
    source so the final join reads the cache instead of re-scanning parquet.
    """
    return all_docs.select("doc_id").join(components, "doc_id", "left").select(
        "doc_id", F.coalesce("entity_id", "doc_id").alias("entity_id")
    )
