"""Scaling study through the REAL ``spark-submit --py-files`` job path.

The north rule's literal wording is "run via spark-submit --py-files on a
multi-executor cluster at two cluster sizes (N and 4N executors) with
throughput scaling efficiency >= 0.8".  This tool runs the production
entrypoint (``jobs/dedupe_job.py``) end-to-end — package zip,
``spark-submit --master local[N] --py-files``, checkpointed stages
(per-partition lineage + metrics), entity-sink MERGE — at N and 4N cores
on the same input, and derives throughput from the job's OWN metrics
report (score-stage rows_out / wall_ms for pairs/sec, n_docs / wall for
e2e docs/sec).  N defaults to 1 (``SPARK_GRAFT_SCALE_N``), so 4N fits a
4-core host without oversubscribing it.

Protocol: one discarded warm-up then ``--runs`` timed runs per level,
medians; shuffle width fixed (data-sized) at both levels; every run gets a
FRESH run-dir and entity sink (no resume short-circuits).  Checkpoint
parquet IO is part of the production job and is identical at both levels.

    python tools/bench_scaling_submit.py [--n-docs 100000] [--runs 2]

Rewrites BENCH/SCALING_SUBMIT.md and prints JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mediachain_indexer_spark.session import _default_heap  # noqa: E402

N = int(os.environ.get("SPARK_GRAFT_SCALE_N", "1"))
SHUFFLE = int(os.environ.get("SPARK_GRAFT_SCALE_SHUFFLE", "32"))


def make_zip(tmp: str) -> str:
    zpath = os.path.join(tmp, "mis.zip")
    pkg = os.path.join(REPO, "mediachain_indexer_spark")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return zpath


def run_once(
    cores: int, mem: str, zpath: str, input_path: str, tmp: str, tag: str
) -> dict:
    run_root = os.path.join(tmp, f"runs_{tag}")
    sink = os.path.join(tmp, f"entities_{tag}")
    shutil.rmtree(run_root, ignore_errors=True)
    shutil.rmtree(sink, ignore_errors=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(SHUFFLE)
    # memory is a SUBMIT-time setting: the driver JVM exists before any
    # builder config runs, so session.py's spark.driver.memory is a no-op
    # here — without this flag the job runs on spark-submit's 1 GB default
    # and dies of GCLocker allocation starvation at 16 cores / 500k docs
    # (measured 2026-08-17; the crashing JVM's shutdown hook then wipes its
    # blockmgr dirs, surfacing as secondary "No such file" task failures)
    cmd = [
        "spark-submit",
        "--master", f"local[{cores}]",
        "--driver-memory", mem,
        "--py-files", zpath,
        os.path.join(REPO, "mediachain_indexer_spark", "jobs", "dedupe_job.py"),
        "--input", input_path,
        "--entity-sink", sink,
        "--run-dir", run_root,
        "--run-id", tag,
        "--app-name", f"dedupe-scale-{tag}",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=3000)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith('{"job":')]
    if out.returncode != 0 or not line:
        sys.stderr.write(out.stderr[-3000:])
        raise RuntimeError(f"spark-submit failed at local[{cores}] ({tag})")
    m = json.loads(line[-1])
    score = next(s for s in m["stages"] if s["stage"] == "score")
    m["pairs_per_sec"] = score["rows_out"] / (score["wall_ms"] / 1000.0)
    m["docs_per_sec"] = m["n_docs"] / m["wall_sec"]
    return m


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=100_000)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    from mediachain_indexer_spark.sources.fixtures import write_corpus

    paths = write_corpus(
        os.path.join(REPO, ".cache", f"fx{args.n_docs}"), args.n_docs
    )
    # get_spark's host-sized heap (40% of MemTotal) unless overridden
    mem = os.environ.get("SPARK_DRIVER_MEM") or _default_heap()
    tmp = tempfile.mkdtemp(prefix="scale_submit_")
    zpath = make_zip(tmp)

    results = {}
    raw = {}
    for cores in (N, 4 * N):
        runs = [
            run_once(
                cores, mem, zpath, paths["spans_documents"], tmp, f"c{cores}_r{i}"
            )
            for i in range(args.runs + 1)
        ]
        timed = runs[1:] if len(runs) > 1 else runs
        raw[cores] = runs
        results[cores] = {
            "median_wall_sec": statistics.median(r["wall_sec"] for r in timed),
            "median_pairs_per_sec": statistics.median(
                r["pairs_per_sec"] for r in timed
            ),
            "median_docs_per_sec": statistics.median(
                r["docs_per_sec"] for r in timed
            ),
            "n_matches": timed[0]["n_matches"],
            "n_entities": timed[0]["n_entities"],
        }
    lo, hi = results[N], results[4 * N]
    assert lo["n_matches"] == hi["n_matches"], "levels disagree on matches"
    assert lo["n_entities"] == hi["n_entities"], "levels disagree on entities"
    eff_pairs = (hi["median_pairs_per_sec"] / lo["median_pairs_per_sec"]) / 4
    eff_e2e = (hi["median_docs_per_sec"] / lo["median_docs_per_sec"]) / 4

    summary = {
        "protocol": "spark-submit --py-files dedupe_job, checkpointed",
        "n_docs": args.n_docs,
        "shuffle_partitions": SHUFFLE,
        "levels": {str(k): v for k, v in results.items()},
        "efficiency_pairs": round(eff_pairs, 3),
        "efficiency_e2e": round(eff_e2e, 3),
    }
    with open(
        os.path.join(REPO, ".cache", "scaling_submit_raw.json"), "w"
    ) as f:
        json.dump({"summary": summary, "raw": {str(k): v for k, v in raw.items()}}, f, indent=1)

    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    md = f"""# BENCH/SCALING_SUBMIT — spark-submit job-path scaling (latest run)

North-rule-literal protocol: the production ``spark-submit --py-files``
entrypoint (checkpointed stages, entity-sink MERGE) at local[{N}] vs
local[{4 * N}], {args.runs} timed runs per level after a discarded warm-up,
shuffle {SHUFFLE} at both levels, {args.n_docs:,} seeded spans docs,
driver heap {mem},
on a host with {os.cpu_count()} CPUs and {mem_gib:.1f} GiB of RAM.
Throughput comes from the job's own metrics report.

| Level | median job wall | docs/sec | score pairs/sec |
|---|---|---|---|
| local[{N}] | {lo['median_wall_sec']:.1f} s | {lo['median_docs_per_sec']:,.0f} | {lo['median_pairs_per_sec']:,.0f} |
| local[{4 * N}] | {hi['median_wall_sec']:.1f} s | {hi['median_docs_per_sec']:,.0f} | {hi['median_pairs_per_sec']:,.0f} |

**Scaling efficiency: pairs/sec {eff_pairs:.3f}, e2e docs/sec {eff_e2e:.3f}**
(target ≥ 0.8; both levels produced identical matches/entities:
{lo['n_matches']:,} / {lo['n_entities']:,}).
Raw: `.cache/scaling_submit_raw.json`.
"""
    with open(os.path.join(REPO, "BENCH", "SCALING_SUBMIT.md"), "w") as f:
        f.write(md)
    print(json.dumps(summary))
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
