"""bench.py's ER rep: run_pipeline under a persist-and-count stage hook."""

from __future__ import annotations

import bench


def test_bench_er_once_reports_every_key(spark):
    er = bench._bench_er_once(spark, 500)
    assert set(er) == {
        "n_docs",
        "pairs_scored",
        "n_matches",
        "n_docs_clustered",
        "stage_walls",
        "stage_counts",
        "score_wall_sec",
        "cluster_wall_sec",
        "e2e_wall_sec",
        "pairs_scored_per_sec",
        "jit_compile_s",
        "codegen_compiles",
    }
    assert er["n_docs"] == er["n_docs_clustered"] == 500
    assert set(er["stage_counts"]) == {"normalize", "block", "pairs", "score"}
    assert set(er["stage_walls"]) == {"normalize", "block", "pairs", "score", "cluster"}
    assert er["stage_counts"]["normalize"] == 500
    assert er["stage_counts"]["score"] == er["pairs_scored"]
    assert 0 < er["n_matches"] <= er["pairs_scored"]
    assert er["jit_compile_s"] >= 0
    assert er["codegen_compiles"] >= 0
