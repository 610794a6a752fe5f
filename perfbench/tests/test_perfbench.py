"""Benchmark self-tests: every workload at toy size prints every metric by
name and unit, and a planted wrong cluster assignment fails the gate.

    python3 -m pytest perfbench/tests -q

Each workload test starts its own JVM through ``perfbench/run.py``, so the
module takes several minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import textwrap

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.harness import REPO, _shares, summarize  # noqa: E402
from perfbench.trace import Span, Tracer, layer_metrics  # noqa: E402

BENCHMARK = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
TOY_SIZE = {"er_batch": 300, "ingest_delete": 600, "catalog_mix": 0.01}

# the per-module table every traced run must report, per workload
LAYER_TABLE = {
    "er_batch": {
        "operators.normalize": ["wall_s", "rows_out"],
        "operators.blocking": ["wall_s", "rows_out", "executor_cpu_s", "shuffle_write_bytes"],
        "operators.pairs": [
            "wall_s", "pairs_out", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "jobs",
        ],
        "operators.scoring": [
            "wall_s", "pairs_scored", "matches", "executor_cpu_s", "executor_run_s",
        ],
        "operators.cluster": ["wall_s", "jobs", "driver_gap_s", "edges_in"],
        "sources.merge": [
            "wall_s", "calls", "buckets_touched", "rows_rewritten_per_row_updated",
        ],
    },
    "ingest_delete": {
        "operators.cluster": ["wall_s", "jobs", "driver_gap_s"],
        "sources.merge": [
            "wall_s", "calls", "buckets_touched", "rows_rewritten_per_row_updated",
        ],
        "plans.ingest": ["other_s", "jobs"],
    },
    "catalog_mix": {
        "catalog": [f"{q}.wall_s" for q in (
            "agg_pricing_summary", "join_revenue_by_nation",
            "window_top3_orders_per_customer", "window_tumbling_events_10min",
            "embedding_cosine_topk", "similarity_ivf_topk", "dedup_exact_by_prefix",
        )],
    },
}
E2E_REPORT = {
    "er_batch": ["er_wall_s", "er_f1"],
    "ingest_delete": ["ingest_s", "delete_s"],
    "catalog_mix": ["catalog_s"],
}


def _bench(*args: str, code: str | None = None) -> tuple[dict, dict]:
    cmd = [sys.executable, "perfbench/run.py", *args] if code is None else [
        sys.executable, "-c", code, *args]
    proc = subprocess.run(
        cmd, cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=900,
    )
    assert proc.returncode == 0
    report, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return report, result


def _toy(workload: str, trace: int) -> list[str]:
    return ["--workload", workload, "--seed", "5", "--seconds", "0",
            "--trace", str(trace), "--size", str(TOY_SIZE[workload])]


@pytest.mark.parametrize("workload", sorted(TOY_SIZE))
def test_traced_run_reports_every_metric(workload):
    report, result = _bench(*_toy(workload, 1))
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    declared = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared

    e2e = report["end_to_end"]
    for name in ["setup_s", "peak_rss_mb", "error_rate", *E2E_REPORT[workload]]:
        assert {"value", "unit"} <= set(e2e[name]), name
    assert e2e["error_rate"]["value"] == 0
    for name in E2E_REPORT[workload]:
        if name != "er_f1":
            assert e2e[name]["n"] >= 1 and e2e[name]["unit"] == "s"

    layers = report["per_layer"]
    for layer, metrics in LAYER_TABLE[workload].items():
        for m in [*metrics, "tasks_failed"] if layer != "catalog" else metrics:
            assert f"{layer}.{m}" in layers, f"{layer}.{m}"
    assert layers["session.jvm_start_s"] > 0 and layers["session.warmup_s"] > 0
    assert "trace.overhead_s" in layers
    if workload == "er_batch":
        assert layers["trace.self_coverage"] >= 0.9
        assert report["gates"]["entity_table_ok"]
    assert os.path.exists(os.path.join(REPO, report["spans"]))


@pytest.fixture(scope="module")
def clean_er_run():
    """An untraced toy er_batch run; it also records the reference output
    that later runs of the same program on the same corpus must match."""
    return _bench(*_toy("er_batch", 0))


def test_untraced_run_reports_end_to_end_metrics(clean_er_run):
    report, result = clean_er_run
    assert result["correct"]
    declared = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert report["gates"]["er_f1"] >= 0.99 and report["gates"]["mismatched_ops"] == 0


PLANTED = textwrap.dedent(
    """
    import sys
    from pyspark.sql import functions as F
    from perfbench import run, workloads

    real = workloads.run_pipeline
    calls = []

    def planted(docs, *a, **k):
        # the warm-up pass is left alone; every timed operation moves one
        # doc into a made-up entity
        res = real(docs, *a, **k)
        calls.append(1)
        if len(calls) > 1:
            res.clusters = res.clusters.withColumn(
                "entity_id",
                F.when(F.col("doc_id") == "d000000", F.lit("planted"))
                .otherwise(F.col("entity_id")),
            )
        return res

    workloads.run_pipeline = planted
    sys.exit(run.main(sys.argv[1:]))
    """
)


def test_planted_wrong_assignment_fails_gate(clean_er_run):
    report, result = _bench(*_toy("er_batch", 0), code=PLANTED)
    assert not result["correct"]
    assert result["failed"] >= 1
    assert report["gates"]["mismatched_ops"] >= 1
    assert report["end_to_end"]["error_rate"]["value"] > 0


def test_summarize_reports_tail_only_with_ten_samples_beyond():
    assert summarize([3.0, 1.0, 2.0]) == {"median": 2.0, "n": 3}
    out = summarize([float(i) for i in range(100)])
    assert out["n"] == 100 and out["p90"] == 90.0


def test_layer_self_time_excludes_children():
    tracer = Tracer.__new__(Tracer)
    root = Span("op", "perfbench", 1, None, 1, start=0.0, end=10.0)
    a = Span("a", "plans.ingest", 2, 1, 1, start=1.0, end=9.0)
    b = Span("b", "sources.merge", 3, 2, 1, start=2.0, end=5.0)
    b.job_intervals = [(2.0, 4.0)]
    tracer.spans = [root, a, b]
    m = layer_metrics(tracer, tracer.spans)
    assert m["plans.ingest"]["wall_s"] == 8.0 and m["plans.ingest"]["self_s"] == 5.0
    assert m["sources.merge"]["self_s"] == 3.0
    assert m["sources.merge"]["driver_gap_s"] == 1.0


def test_catalog_tables_match_their_checksums():
    data = os.path.join(REPO, "perfbench", "data")
    with open(os.path.join(data, "SHA256SUMS")) as f:
        sums = [line.split() for line in f if line.strip()]
    assert {name.split("/")[0] for _, name in sums} == {"sf0.1", "sf0.01"}
    for digest, name in sums:
        with open(os.path.join(data, name), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == digest, name


def test_rss_sum_skips_a_child_sharing_its_parent_memory():
    jvm = (1_000_000, 800_000)
    assert _shares((1_000_000, 800_500), jvm)  # spawned, not yet exec'd
    assert not _shares((40_000, 30_000), jvm)  # a Python worker
    assert not _shares((1_000_000, 700_000), jvm)
