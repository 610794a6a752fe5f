"""Benchmark harness (driver contract: prints ONE JSON line).

Measures:
- headline operator queries from the catalog on $SPARK_GRAFT_SF_DIR
  (default /root/testdata/sf0.1);
- the flagship ER pipeline (normalize → block → pairs → score → cluster) on
  the seeded spans corpus at bench scale (100k docs), reporting wall time
  plus candidate-pairs-scored/sec (pairs deduplicated across LSH bands
  BEFORE counting — BASELINE.md row 2).

Usage:
    python bench.py                    # full bench, one JSON line to stdout
    python bench.py --er-only --n-docs 5000 --er-reps 1 --json-file out.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "100000"))


def _corpus_path(n_docs: int) -> dict[str, str]:
    from mediachain_indexer_spark.sources.fixtures import write_corpus

    return write_corpus(os.path.join(REPO, ".cache", f"fx{n_docs}"), n_docs)


def bench_er(
    spark,
    n_docs: int,
    warmup_docs: int = 3000,
    reps: int = 5,
) -> dict:
    """Stage-by-stage timed run: each stage is persisted + counted before the
    next starts, so every wall number measures exactly one stage's work.

    ``warmup_docs``: a small full-pipeline run executes BEFORE the clock
    starts, so the timed walls measure steady-state engine throughput, not
    one-time session costs (whole-stage codegen compilation, Python worker
    pool spawn, Arrow init) — those constants are identical at every
    parallelism level and would otherwise dominate the N-vs-4N e2e ratio
    (measured: the first-stage wall carried a ~5s floor at BOTH 4 and 16
    cores).  Set 0 to include cold-start in the measurement.

    ``reps``: the full timed pipeline runs this many times in-process and
    the reported walls are the MEDIAN rep (the rep whose e2e is the median
    value, so stage walls and counts come from one coherent run; every
    rep's e2e/score/cluster walls are reported alongside under ``rep_*``).
    Round-4 lesson: single-run walls on a shared host are ±15–30% noise —
    r04's driver artifact showed +12% e2e on stages whose code had not
    changed — so the driver-recorded number must be a median to support any
    round-over-round comparison.  Each rep re-executes every stage from the
    parquet scan (persists are dropped between reps); rep 0 additionally
    carries first-run-at-size effects (cache warm-up, CC width JIT), which
    is exactly the variance the median absorbs.
    """
    if warmup_docs:
        from mediachain_indexer_spark.plans.pipeline import run_pipeline
        from mediachain_indexer_spark.sources.io import read_documents

        wdocs = read_documents(spark, _corpus_path(warmup_docs)["spans_documents"])
        wres = run_pipeline(wdocs)
        wres.clusters.count()
        wres.features.unpersist()
        wres.scored.unpersist()

    runs = [_bench_er_once(spark, n_docs) for _ in range(max(1, reps))]
    # adaptive extension: the sandbox host shows episodic multi-ten-second
    # degradation windows (BENCH/BASELINE.md host-state note) that can
    # poison most of a fixed rep budget.  When the spread says a window hit
    # (max/min e2e > 2×), buy up to 3 extra reps — standard
    # variance-triggered resampling; EVERY rep stays in the recorded arrays
    es = [r["e2e_wall_sec"] for r in runs]
    if reps > 1 and max(es) / max(min(es), 1e-9) > 2.0:
        runs += [_bench_er_once(spark, n_docs) for _ in range(3)]
    ordered = sorted(runs, key=lambda r: r["e2e_wall_sec"])
    med = dict(ordered[(len(ordered) - 1) // 2])
    med["reps"] = len(runs)
    med["rep_e2e_wall_sec"] = [r["e2e_wall_sec"] for r in runs]
    med["rep_score_wall_sec"] = [r["score_wall_sec"] for r in runs]
    med["rep_cluster_wall_sec"] = [r["cluster_wall_sec"] for r in runs]
    return med


def _bench_er_once(spark, n_docs: int) -> dict:
    """One timed end-to-end rep (see bench_er): ``run_pipeline`` with a stage
    hook that persists each stage's frame and counts it before the next
    stage starts, so every stage wall measures exactly one stage's work.

    Over the same window the rep records the JVM's JIT compile time
    (``jit_compile_s``, CompilationMXBean, summed over compiler threads) and
    the classes Spark's code generator compiled (``codegen_compiles``:
    generated-code cache misses)."""
    from mediachain_indexer_spark.plans.pipeline import run_pipeline
    from mediachain_indexer_spark.sources.io import read_documents

    docs = read_documents(spark, _corpus_path(n_docs)["spans_documents"])
    walls: dict[str, float] = {}
    counts: dict[str, int] = {}
    cached = []

    def timed(name: str, build, key_col: str):
        t = time.monotonic()
        df = build().persist()
        cached.append(df)
        counts[name] = df.count()
        walls[name] = round(time.monotonic() - t, 3)
        return df

    jit = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    jit0 = jit.getTotalCompilationTime()
    compiles0 = codegen.METRIC_COMPILATION_TIME().getCount()
    t0 = time.monotonic()
    res = run_pipeline(docs, stage=timed)
    n_matches = res.matches.count()
    wall = time.monotonic() - t0
    jit_ms = jit.getTotalCompilationTime() - jit0
    compiles = codegen.METRIC_COMPILATION_TIME().getCount() - compiles0
    n_clustered = counts.pop("cluster")
    for df in cached:
        df.unpersist()

    n_pairs = counts["score"]
    t_score = walls["score"]
    return {
        "n_docs": n_docs,
        "pairs_scored": n_pairs,
        "n_matches": n_matches,
        "n_docs_clustered": n_clustered,
        "stage_walls": walls,
        "stage_counts": counts,
        "score_wall_sec": t_score,
        "cluster_wall_sec": walls["cluster"],
        "e2e_wall_sec": round(wall, 3),
        "pairs_scored_per_sec": round(n_pairs / t_score, 1) if t_score > 0 else None,
        "jit_compile_s": round(jit_ms / 1000, 3),
        "codegen_compiles": compiles,
    }


HEADLINE = (
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "window_top3_orders_per_customer",
    "window_tumbling_events_10min",
    "embedding_cosine_topk",
    "similarity_ivf_topk",
    "dedup_exact_by_prefix",
)
# dedup_minhash_verified_docs is correctness-checked at sf0.01 but excluded
# from the sf0.1 headline: exact-Jaccard verification of the ~394k raw LSH
# candidates is the dominant cost by design (~18s at sf0.1 after the
# hashed-gram numpy kernel; was 85s with interpreted array_intersect) and
# would swamp the bench wall the driver compares round-over-round.


def bench_queries(spark, sf_dir: str) -> dict[str, float]:
    from mediachain_indexer_spark import catalog

    qs = catalog.queries()
    out: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        fn(spark, sf_dir).collect()  # warm (plan + code cache)
        t0 = time.monotonic()
        fn(spark, sf_dir).collect()
        out[name] = round(time.monotonic() - t0, 3)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--er-only", action="store_true")
    ap.add_argument("--n-docs", type=int, default=BENCH_DOCS)
    ap.add_argument("--json-file", default=None)
    ap.add_argument(
        "--er-reps",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_ER_REPS", "5")),
        help="in-process timed ER pipeline reps; median rep is reported. "
        "Default 5 since round 5: the sandbox host shows episodic multi-ten-"
        "second degradation windows (BENCH/BASELINE.md host-state note), and "
        "a 5-rep median rides one out where a 3-rep median cannot",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from mediachain_indexer_spark.session import get_spark

    spark = get_spark(
        app_name="mediachain-indexer-bench",
        cores=args.cores,
        shuffle_partitions=args.shuffle_partitions,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # input-split sizing for SMALL fixtures: the 500k-doc corpus is 34 MB in
    # 64 files — under the 128 MB default every scan coalesces to ~3 input
    # partitions, so narrow pre-shuffle stages (normalize, signature) run on
    # 3 tasks no matter how many cores the level has, and the N-vs-4N
    # comparison measures the file packer, not the engine.  2 MB splits give
    # every level ≥ 2×cores scan tasks; at real scale (files ≫ cores) the
    # 128 MB default is correct and this knob is a no-op concern.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2m")
    spark.conf.set("spark.sql.files.openCostInBytes", "512k")

    queries: dict[str, float] = {}
    if not args.er_only:
        queries.update(bench_queries(spark, sf_dir))
    er = bench_er(spark, args.n_docs, reps=args.er_reps)
    # the band table is always held in the on-heap cache; the key stays so
    # earlier BENCH_*.json files compare key for key
    er["block_storage"] = "memory"
    queries["er_pipeline_e2e"] = er["e2e_wall_sec"]
    queries["er_score_stage"] = er["score_wall_sec"]
    queries["er_cluster_stage"] = er["cluster_wall_sec"]

    result = {
        "metric": "er_pipeline_e2e_wall",
        "value": er["e2e_wall_sec"],
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "er": er,
        "cores": args.cores or os.environ.get("SPARK_GRAFT_CPUS", "all"),
    }
    line = json.dumps(result)
    print(line)
    if args.json_file:
        with open(args.json_file, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
