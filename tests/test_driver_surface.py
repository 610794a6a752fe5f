"""Driver-surface contract guards.

Round-1 driver failure class: entries returning array-typed columns crash
the driver's pandas canonicalizer (sort_values → unhashable list cells).
Guard every catalog entry's schema: atomic types only."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from mediachain_indexer_spark import catalog

SF_DIR = "/root/testdata/sf0.01"

_NESTED = (T.ArrayType, T.MapType, T.StructType)


@pytest.mark.parametrize("name", sorted(catalog.queries()))
def test_catalog_entry_schema_is_atomic(spark, name):
    df = catalog.queries()[name](spark, SF_DIR)
    nested = [f.name for f in df.schema.fields if isinstance(f.dataType, _NESTED)]
    assert nested == [], (
        f"{name} returns nested columns {nested} — the driver canonicalizer "
        "cannot hash list/dict cells; project to scalars at the entry surface"
    )


def test_approx_distinct_users_within_hll_error(spark):
    """agg_approx_distinct_users is the one driver entry without a DuckDB
    hash-match (HLL++ is not replicable there), so its values are checked
    here instead: every event_type's estimate lies within 3 x rsd (6%) of
    DuckDB's exact COUNT(DISTINCT user_id) over the same parquet."""
    import duckdb

    got = {
        r["event_type"]: r["approx_users"]
        for r in catalog.queries()["agg_approx_distinct_users"](spark, SF_DIR).collect()
    }
    exact = dict(
        duckdb.connect()
        .execute(
            "SELECT event_type, COUNT(DISTINCT user_id) "
            f"FROM read_parquet('{SF_DIR}/events.parquet') GROUP BY event_type"
        )
        .fetchall()
    )
    assert set(got) == set(exact) and exact
    for event_type, n in exact.items():
        assert abs(got[event_type] - n) <= 0.06 * n, (event_type, got[event_type], n)


def test_entry_registration_window():
    """The driver ledger records exactly the first 50 registered queries in
    dict order (round-3 verdict): the 8 er_* flagship surfaces must register
    FIRST and the total must be <=50 so none is silently unverified."""
    import importlib
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    mod = importlib.import_module("__spark_entry__")
    keys = list(mod.queries())
    assert len(keys) <= 50
    er = [k for k in keys if k.startswith("er_")]
    assert keys[: len(er)] == er, "er_* entries must register first"
    for flagship in (
        "er_clusters",
        "er_eval_f1",
        "er_incremental_clusters",
        "er_deleted_clusters",
    ):
        assert flagship in keys[:50]
    oracles = mod.oracle_sql()
    assert set(oracles) <= set(keys)
    # round-5: er_normalize_features, er_candidate_pairs AND er_blocks
    # graduated to DuckDB hash-matches
    assert "er_normalize_features" in oracles
    assert "er_candidate_pairs" in oracles
    assert "er_blocks" in oracles
    # round-5 rotation (round-4 verdict #8): the four entries withheld in
    # r04 must register this round so r04∪r05 covers every catalog entry
    for rotated_in in (
        "text_token_stats",
        "date_extract_parts",
        "text_fingerprint_md5",
        "window_lag_order_gap_days",
    ):
        assert rotated_in in keys and rotated_in in oracles
    # the newly-withheld four must all have been hash-green in r03 AND r04
    # (checked against the committed ledgers, not hardcoded trust)
    import json

    prev = {}
    for ledger in ("CORRECTNESS_r03.json", "CORRECTNESS_r04.json"):
        p = os.path.join(repo, ledger)
        if os.path.exists(p):
            with open(p) as f:
                prev[ledger] = json.load(f)
    for withheld in mod._WITHHELD:
        assert withheld not in keys
        for ledger, data in prev.items():
            if withheld in data:
                assert data[withheld].get("hash_match") is True, (
                    f"{withheld} withheld but not hash-green in {ledger}"
                )


def test_heap_gb_parsing_edge_cases():
    """The /dev/shm room check's memory-spec parser must never crash
    get_spark: empty env var, bare suffix, comma decimals, and megabyte
    specs all resolve (unknown -> 0.0 -> no room asked, Spark validates)."""
    from mediachain_indexer_spark.session import _heap_gb

    assert _heap_gb("16g") == 16.0
    assert _heap_gb("16384m") == 16.0
    assert _heap_gb("60G") == 60.0
    assert _heap_gb("") == 0.0
    assert _heap_gb("g") == 0.0
    assert _heap_gb("1,5g") == 0.0
    assert _heap_gb("16") == 0.0


def test_shm_local_dir_needs_room_for_the_heap(monkeypatch):
    """/dev/shm becomes Spark's local dir only when its free space covers
    the driver heap: a container's default 64 MB tmpfs is writable but
    would fail the first shuffle spill.  statvfs is faked; no session."""
    import types

    from mediachain_indexer_spark import session

    def free(n_bytes):
        st = types.SimpleNamespace(f_bavail=n_bytes // 4096, f_frsize=4096)
        return lambda path: st

    monkeypatch.setattr(session.os, "access", lambda path, mode: True)
    monkeypatch.setattr(session.os, "statvfs", free(64 * 2**20))
    assert session._shm_local_dir("3g") is None
    monkeypatch.setattr(session.os, "statvfs", free(3 * 2**30))
    assert session._shm_local_dir("3g") == "/dev/shm/spark-local"
    assert session._shm_local_dir("3072m") == "/dev/shm/spark-local"
    assert session._shm_local_dir("4g") is None
    monkeypatch.setattr(session.os, "access", lambda path, mode: False)
    assert session._shm_local_dir("3g") is None

    def missing(path):
        raise FileNotFoundError(path)

    monkeypatch.setattr(session.os, "statvfs", missing)
    assert session._shm_local_dir("3g") is None
