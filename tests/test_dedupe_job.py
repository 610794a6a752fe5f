"""spark-submit job entrypoint (jobs/dedupe_job.py): end-to-end run with
checkpointing, MERGE sink, eval, and resume-on-rerun."""

from __future__ import annotations

import argparse


def _args(**kw):
    base = dict(
        input=None,
        entity_sink=None,
        run_dir=None,
        run_id=None,
        labels=None,
        exact_strategy="clique",
    )
    base.update(kw)
    return argparse.Namespace(**base)


def test_job_end_to_end_with_resume(spark, corpus500_paths, tmp_path):
    from mediachain_indexer_spark.jobs.dedupe_job import run
    from mediachain_indexer_spark.sources.merge import read_entities

    sink = str(tmp_path / "entities")
    args = _args(
        input=corpus500_paths["spans_documents"],
        entity_sink=sink,
        run_dir=str(tmp_path / "runs"),
        run_id="test-run",
        labels=corpus500_paths["labeled_pairs"],
    )
    m1 = run(spark, args)
    assert m1["n_docs"] == 500
    assert m1["sink_stats"]["n_upserted"] == 500
    assert m1["eval"]["f1"] >= 0.99  # the north-rule acceptance gate
    stages = {s["stage"] for s in m1["stages"]}
    assert {"normalize", "block", "pairs", "score", "cluster"} <= stages
    assert read_entities(spark, sink).count() == 500

    # rerun with the same run_id: every stage resumes from checkpoint —
    # stage walls are not re-paid and the entity table stays identical
    m2 = run(spark, args)
    assert m2["n_docs"] == 500
    assert m2["wall_sec"] < m1["wall_sec"]
    t1 = {r["doc_id"]: r["entity_id"] for r in read_entities(spark, sink).collect()}
    assert len(t1) == 500


def test_job_via_real_spark_submit(corpus500_paths, tmp_path):
    """The north-rule deployment mode, exercised for real: package the
    engine as a --py-files zip and launch jobs/dedupe_job.py through the
    actual spark-submit launcher (own JVM, master from the CLI), then
    assert the one-line JSON metrics report including the F1 gate.  The
    in-process tests above cover the logic; this covers the packaging —
    imports resolving from the zip, main() owning the session, metrics on
    stdout."""
    import json
    import os
    import shutil
    import subprocess
    import sys
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zpath = str(tmp_path / "mediachain_indexer_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(repo, "mediachain_indexer_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, repo))
    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(os.path.dirname(sys.executable)),
        "lib", "python3.11", "site-packages", "pyspark", "bin", "spark-submit",
    )
    cmd = [
        spark_submit,
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zpath,
        os.path.join(repo, "mediachain_indexer_spark", "jobs", "dedupe_job.py"),
        "--input", corpus500_paths["spans_documents"],
        "--entity-sink", str(tmp_path / "entities"),
        "--labels", corpus500_paths["labeled_pairs"],
    ]
    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=540, env=env, cwd=str(tmp_path)
    )
    assert out.returncode == 0, (out.stdout[-1000:], out.stderr[-3000:])
    json_lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert json_lines, out.stdout[-1000:]
    m = json.loads(json_lines[-1])
    assert m["n_docs"] == 500
    assert m["eval"]["f1"] >= 0.99
    assert m["sink_stats"]["n_upserted"] == 500
