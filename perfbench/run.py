"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all          # each workload in turn

A run starts the JVM, sets up (warm-up pass, and the base store for
``ingest_delete``), runs the workload's operations in a closed loop for
``--seconds``, checks the outputs, stops every process it started, and
prints two JSON lines on stdout: a report (every metric by name, unit and
sample count, the gates, the host settings) and, last, the result::

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

With ``--trace 0`` the result's metrics are the end-to-end ones: the median
wall time per operation (``op_wall_s``: ``er_wall_s`` on er_batch,
``catalog_s`` on catalog_mix, one increment + delete cycle on ingest_delete),
set-up time and peak RSS.  The report adds the process tree's CPU time per
operation and the host's steal share, which stretches wall time.  With
``--trace 1`` one untraced operation runs first and then traced ones, and
the metrics are per layer, from spans the benchmark records around its
calls into the program (written to ``perfbench/.work/spans-*.jsonl``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

T_START = time.monotonic()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOAD_NAMES = ("er_batch", "ingest_delete", "catalog_mix")
# per-layer metrics every workload produces; the full per-module table is
# in the report line
LAYER_RESULT = {
    "session.jvm_start_s": "s",
    "session.warmup_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.driver_gap_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", type=float, default=None,
        help="corpus docs (ER workloads) or scale factor (catalog_mix); "
        "default per workload",
    )
    return ap.parse_args(argv)


def _metric(value, unit: str, samples: list[float] | None = None) -> dict:
    out = {"value": value, "unit": unit}
    if samples is not None:
        stats = harness.summarize(samples)
        del stats["median"]  # it is the value
        out.update(stats, samples=samples)
    return out


def run_workload(args, result_out) -> None:
    harness.require_program()
    settings = harness.host_settings()
    harness.apply_settings(settings)

    from perfbench.trace import Tracer, trace_summary
    from perfbench.workloads import WORKLOADS, Run

    wl = WORKLOADS[args.workload]()
    size = args.size if args.size is not None else wl.default_size
    with harness.RssSampler() as rss:
        t = time.monotonic()
        spark = harness.start_spark()
        jvm_start_s = time.monotonic() - t
        try:
            run = Run(spark, args.seed, size, tracer=Tracer(spark) if args.trace else None)
            t = time.monotonic()
            wl.setup(run)
            warmup_s = time.monotonic() - t - run.unmeasured_s
            setup_s = time.monotonic() - T_START - run.unmeasured_s

            ticks0 = harness.cpu_ticks()
            deadline = time.monotonic() + args.seconds
            wl.op(run)  # with tracing on, the untraced baseline for the overhead
            n_traced = 0
            while wl.has_work() and (
                time.monotonic() < deadline or (run.tracer and not n_traced)
            ):
                if run.tracer is None:
                    wl.op(run)
                else:
                    wl.traced_op(run)
                    run.tracer.harvest()
                    n_traced += 1
            ticks1 = harness.cpu_ticks()
            wl.gate(run)
        finally:
            harness.stop_spark(spark)
        rss.sample()

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": size,
        "settings": settings,
        "input_preparation_s": run.unmeasured_s,
        # share of the host's busy CPU time stolen by the hypervisor in the loop
        "host_steal_pct": 100 * harness.steal_share(ticks0, ticks1),
        "attempted": run.attempted,
        "failed": run.failed,
        "gates": run.gates,
    }
    peak_rss_mb = rss.peak_bytes / 2**20
    e2e = {
        "setup_s": _metric(setup_s, "s", [setup_s]),
        "peak_rss_mb": _metric(peak_rss_mb, "MB", [peak_rss_mb]),
        "error_rate": _metric(run.failed / max(1, run.attempted), "ratio", None),
    }
    for name, samples in run.samples.items():
        if not name.startswith("traced_"):
            unit = "ratio" if name.endswith("_share") else "s"
            e2e[name] = _metric(statistics.median(samples), unit, samples)
    if "er_f1" in run.gates:
        e2e["er_f1"] = _metric(run.gates["er_f1"], "ratio", None)
    report["end_to_end"] = e2e
    op_s = statistics.median(run.samples[wl.op_metric])
    if run.tracer is None:
        metrics = {
            "op_wall_s": {"value": op_s, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        }
    else:
        layers = trace_summary(run.tracer)
        layers["session.jvm_start_s"] = jvm_start_s
        layers["session.warmup_s"] = warmup_s
        traced = run.samples.get(f"traced_{wl.op_metric}", [])
        if traced:
            layers["trace.overhead_s"] = statistics.median(traced) - op_s
        spans_path = os.path.join(
            harness.WORK_DIR, f"spans-{args.workload}-{args.seed}-{os.getpid()}.jsonl"
        )
        run.tracer.dump(spans_path)
        report["spans"] = os.path.relpath(spans_path, harness.REPO)
        report["per_layer"] = layers
        metrics = {k: {"value": layers.get(k, 0), "unit": u} for k, u in LAYER_RESULT.items()}

    print(json.dumps(report), file=result_out, flush=True)
    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), file=result_out, flush=True)


def run_all(args) -> int:
    """Each workload in a fresh process; non-zero if any is incorrect."""
    status = 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(proc.stdout)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines or not json.loads(lines[-1])["correct"]:
            status = 1
    return status


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    # the JVM and libraries may write to fd 1; keep stdout for the result
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    run_workload(args, result_out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
