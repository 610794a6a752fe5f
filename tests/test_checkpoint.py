"""Checkpoint / lineage / resume (BASELINE.md row 5): a re-run with the same
run_id reproduces identical clusters without recomputing completed stages."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from mediachain_indexer_spark.plans.checkpoint import StageRunner
from mediachain_indexer_spark.plans.pipeline import run_pipeline


def test_stage_runner_resume_skips_completed(spark):
    tmp = tempfile.mkdtemp(prefix="ckpt-")
    try:
        runner = StageRunner(spark, tmp, "run1")
        calls = {"n": 0}

        def make():
            calls["n"] += 1
            return spark.range(10).select(F.col("id").cast("string").alias("doc_id"))

        a = runner.run("normalize", make, key_col="doc_id")
        assert a.count() == 10 and calls["n"] == 1
        # second run: marker exists → fn NOT called, data read back
        runner2 = StageRunner(spark, tmp, "run1")
        b = runner2.run("normalize", make, key_col="doc_id")
        assert b.count() == 10 and calls["n"] == 1
        # lineage row written with per-partition metrics
        lin = runner2.lineage()
        rows = lin.where("stage = 'normalize'").collect()
        assert sum(r["rows_out"] for r in rows) == 10
        assert all(r["status"] == "ok" for r in rows)
        assert all(r["key_lo"] is not None for r in rows)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_pipeline_resume_identical_clusters(spark, docs500):
    """Kill-and-rerun: the resumed run reuses checkpointed stages and emits
    byte-identical cluster assignments."""
    tmp = tempfile.mkdtemp(prefix="ckpt-")
    try:
        r1 = StageRunner(spark, tmp, "runA")
        res1 = run_pipeline(docs500, stage=r1.run)
        clusters1 = sorted(map(tuple, res1.clusters.collect()))

        # simulate a crash after 'score': drop cluster-stage marker only
        import os

        os.remove(r1._marker("cluster"))
        r2 = StageRunner(spark, tmp, "runA")
        assert r2.completed("block") and r2.completed("score")
        assert not r2.completed("cluster")
        built = []

        def resume(name, build, key_col):
            def recorded():
                built.append(name)
                return build()

            return r2.run(name, recorded, key_col)

        res2 = run_pipeline(docs500, stage=resume)
        clusters2 = sorted(map(tuple, res2.clusters.collect()))
        assert clusters1 == clusters2
        # completed stages are read back, never built: only cluster runs
        assert built == ["cluster"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stage_hook_sees_every_stage_in_order(spark, docs500):
    """The hook is called once per stage, in pipeline order, with each
    stage's key column; a hook that only builds changes no output."""
    seen = []

    def record(name, build, key_col):
        seen.append((name, key_col))
        return build()

    hooked = sorted(map(tuple, run_pipeline(docs500, stage=record).clusters.collect()))
    assert seen == [
        ("normalize", "doc_id"),
        ("block", "block_key"),
        ("pairs", "doc_a"),
        ("score", "doc_a"),
        ("cluster", "entity_id"),
    ]
    default = sorted(map(tuple, run_pipeline(docs500).clusters.collect()))
    assert hooked == default


def test_lineage_schema_matches_contract(spark):
    tmp = tempfile.mkdtemp(prefix="ckpt-")
    try:
        runner = StageRunner(spark, tmp, "runS")
        runner.run("block", lambda: spark.range(5).select(F.col("id").cast("string").alias("block_key")), key_col="block_key")
        cols = runner.lineage().columns
        assert cols == [
            "run_id", "stage", "partition_id", "key_lo", "key_hi",
            "rows_in", "rows_out", "wall_ms", "status",
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_failed_stage_leaves_no_marker_and_recomputes(spark):
    import tempfile

    tmp = tempfile.mkdtemp(prefix="ckpt-")
    try:
        runner = StageRunner(spark, tmp, "runF")
        calls = {"n": 0}

        def boom():
            calls["n"] += 1
            raise RuntimeError("stage blew up")

        import pytest

        with pytest.raises(RuntimeError):
            runner.run("block", boom, key_col=None)
        assert not runner.completed("block")

        def ok():
            calls["n"] += 1
            return spark.range(3).select(F.col("id").cast("string").alias("block_key"))

        out = StageRunner(spark, tmp, "runF").run("block", ok, key_col="block_key")
        assert out.count() == 3 and calls["n"] == 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
