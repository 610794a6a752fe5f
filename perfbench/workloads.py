"""The benchmark's workloads.  Each is a closed loop: one client, one
operation at a time, the next issued only when the previous one returned.

- ``er_batch``: ``run_pipeline`` over a seeded spans corpus, timed from the
  parquet scan until clusters and matches are materialized — the batch
  re-resolve users run.  Its traced run also MERGE-upserts the clusters into
  an entity table (the ``entity_sink`` writeback, ``sources.merge``).
- ``ingest_delete``: increments folded into an entity store by
  ``ingest_increment``, interleaved with ``delete_docs`` batches — the same
  ER operators on tiny inputs, so per-call fixed cost and the MERGE rewrite
  dominate, not data volume.
- ``catalog_mix``: one pass over seven headline catalog queries, each
  collected — the analyst path; it calls no ER operator.

The ER workloads draw their corpus from the seed (see er_corpus.py);
catalog_mix reads the fixed sf0.1 tables in ``perfbench/data`` and the seed
draws its query order.  Every workload checks its outputs outside the timed
region.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from mediachain_indexer_spark import catalog
from mediachain_indexer_spark.operators.blocking import build_blocks
from mediachain_indexer_spark.operators.cluster import (
    attach_components,
    connected_components,
)
from mediachain_indexer_spark.operators.normalize import normalize_documents
from mediachain_indexer_spark.operators.pairs import PairsConfig, candidate_pairs
from mediachain_indexer_spark.operators.scoring import score_pairs
from mediachain_indexer_spark.plans import ingest as ingest_mod
from mediachain_indexer_spark.plans.eval import pairwise_f1
from mediachain_indexer_spark.plans.pipeline import run_pipeline
from mediachain_indexer_spark.sources.io import read_documents
from mediachain_indexer_spark.sources.merge import read_entities, upsert_entities
from perfbench import er_corpus
from perfbench.harness import CACHE_DIR, REPO, WORK_DIR, cpu_ticks, steal_share, tree_cpu_s
from perfbench.trace import Tracer
from tools.oracle_check import value_hash

# bench.py's HEADLINE set: the catalog queries with DuckDB oracles that run
# at sf0.1 in seconds
HEADLINE = (
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "window_top3_orders_per_customer",
    "window_tumbling_events_10min",
    "embedding_cosine_topk",
    "similarity_ivf_topk",
    "dedup_exact_by_prefix",
)
F1_FLOOR = 0.99
# the tables HEADLINE reads; perfbench/data holds byte copies of the
# repository's sf0.1 and sf0.01 test tables (checksums in SHA256SUMS)
CATALOG_TABLES = ("nation", "customer", "orders", "lineitem", "events", "embeddings", "documents")
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def catalog_tables(scale: float) -> str:
    path = os.path.join(DATA_DIR, f"sf{scale:g}")
    if not os.path.isdir(path):
        raise SystemExit(f"perfbench: no catalog tables at scale {scale:g} in {DATA_DIR}")
    return path


def related_metric(metric: str, kind: str) -> str:
    """``er_wall_s`` -> ``er_<kind>``: a figure recorded beside a timing."""
    return metric.removesuffix("_s").removesuffix("_wall") + "_" + kind


@dataclass
class Run:
    """State of one workload run: inputs, op accounting, samples, gates."""

    spark: object
    seed: int
    size: float
    tracer: Tracer | None = None
    unmeasured_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    samples: dict[str, list[float]] = field(default_factory=dict)
    gates: dict[str, object] = field(default_factory=dict)

    def record(self, metric: str, seconds: float) -> None:
        self.samples.setdefault(metric, []).append(seconds)

    def attempt(self, fn, *args):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - the loop must outlive a failed op
            traceback.print_exc()
            self.failed += 1
            return None

    @contextmanager
    def measure(self, metric: str):
        """Record the block's wall time as ``metric`` (``er_wall_s``) and
        beside it the CPU time of the whole process tree (``er_cpu_s``) and
        the host's steal share of busy CPU time (``er_steal_share``), which
        stretches wall time on a shared VM."""
        ticks = cpu_ticks()
        cpu = tree_cpu_s()
        t = time.monotonic()
        yield
        self.record(metric, time.monotonic() - t)
        self.record(related_metric(metric, "cpu_s"), tree_cpu_s() - cpu)
        self.record(related_metric(metric, "steal_share"), steal_share(ticks, cpu_ticks()))

    def timed(self, metric: str, fn, *args):
        with self.measure(metric):
            return self.attempt(fn, *args)

    def unmeasured(self, make):
        """Input preparation is kept out of the setup time: corpus
        generation (cached by size and seed) and the entity table a traced
        er_batch run merges into."""
        t = time.monotonic()
        out = make()
        self.unmeasured_s += time.monotonic() - t
        return out


def fingerprint(clusters) -> tuple[int, int]:
    """Order-insensitive (row count, sum of xxhash64(doc_id, entity_id))."""
    row = clusters.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("doc_id", "entity_id").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def _corpus(run: Run, n_docs: int) -> dict[str, str]:
    out = os.path.join(CACHE_DIR, "corpus", f"n{n_docs}-s{run.seed}")
    return run.unmeasured(lambda: er_corpus.write(out, n_docs, run.seed))


@dataclass
class ErOutput:
    """What an ER operation leaves for the gate, and the caches it holds."""

    blocks: object
    clusters: object
    cached: list

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()


def program_digest() -> str:
    """Hash of the program's sources: outputs recorded under one digest are
    comparable across runs."""
    h = hashlib.sha256()
    pkg = os.path.join(REPO, "mediachain_indexer_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, pkg).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _reference_path(run: Run, key: str) -> str:
    """Where the output of this program on this input is recorded."""
    name = f"{key}-n{int(run.size)}-s{run.seed}-{program_digest()}.json"
    return os.path.join(CACHE_DIR, "outputs", name)


class ErBatch:
    name = "er_batch"
    op_metric = "er_wall_s"
    default_size = 2000
    WARMUP_DOCS = 200

    def setup(self, run: Run) -> None:
        paths = _corpus(run, int(run.size))
        self.docs = read_documents(run.spark, paths["spans_documents"])
        self.labels = run.spark.read.parquet(paths["labeled_pairs"])
        self.outputs: list[list | None] = []
        self.last: ErOutput | None = None
        # the warm-up runs the same plans on a small corpus of its own
        warm = _corpus(run, min(self.WARMUP_DOCS, int(run.size)))
        self._op(read_documents(run.spark, warm["spans_documents"]))
        self._release()
        self.sink = None
        if run.tracer is not None:
            self.sink = run.unmeasured(lambda: self._entity_table(run, paths))

    def _entity_table(self, run: Run, paths: dict[str, str]) -> str:
        """The entity table a traced operation MERGE-upserts its clusters
        into (the ``entity_sink`` writeback): the corpus docs as singletons.
        It is written twice, so the MERGE path is warm too."""
        import pyarrow.parquet as pq

        sink = os.path.join(WORK_DIR, f"entities-{os.getpid()}")
        shutil.rmtree(sink, ignore_errors=True)
        ids = pq.read_table(paths["spans_documents"], columns=["doc_id"])["doc_id"]
        singletons = run.spark.createDataFrame(
            [(d, d) for d in ids.to_pylist()], "doc_id string, entity_id string"
        )
        for _ in range(2):
            upsert_entities(singletons, sink)
        return sink

    def has_work(self) -> bool:
        return True

    def _release(self) -> None:
        """Drop the caches the last operation left behind, so the next one
        starts from the parquet scan (a cached copy of the same plan would
        otherwise be reused)."""
        if self.last is not None:
            self.last.release()
            self.last = None

    def _op(self, docs) -> list:
        res = run_pipeline(docs)
        self.last = ErOutput(res.blocks, res.clusters, [res.features, res.scored])
        return [*fingerprint(res.clusters), res.matches.count()]

    def op(self, run: Run) -> None:
        self._release()
        self.outputs.append(run.timed(self.op_metric, self._op, self.docs))

    def traced_op(self, run: Run) -> None:
        """bench.py's stage-split shape: each stage's output is persisted and
        counted inside its own span, so its work lands in that span.  The
        clusters are then MERGE-upserted into the entity table; that span is
        left out of the traced time compared with the untraced operation."""
        self._release()
        tr = run.tracer
        cached: list = []
        self.last = ErOutput(None, None, cached)

        def stage(layer, fn_name, attr, make):
            with tr.span(f"{layer}.{fn_name}", layer) as s:
                df = make().persist()
                cached.append(df)
                s.attrs[attr] = df.count()
            return df

        def once():
            feats = stage(
                "operators.normalize", "normalize_documents", "rows_out",
                lambda: normalize_documents(self.docs).select(
                    "doc_id", "norm_text", "phashes"
                ),
            )
            blocks = stage(
                "operators.blocking", "build_blocks", "rows_out",
                lambda: build_blocks(feats),
            )
            pairs = stage(
                "operators.pairs", "candidate_pairs", "pairs_out",
                lambda: candidate_pairs(blocks),
            )
            with tr.span("operators.scoring.score_pairs", "operators.scoring") as s:
                scored = score_pairs(pairs, feats).persist()
                cached.append(scored)
                s.attrs["pairs_scored"] = scored.count()
                matches = scored.where(F.col("is_match"))
                n_matches = s.attrs["matches"] = matches.count()
            with tr.span(
                "operators.cluster.connected_components", "operators.cluster"
            ) as s:
                s.attrs["edges_in"] = n_matches
                clusters = attach_components(feats, connected_components(matches))
                out = [*fingerprint(clusters), n_matches]
            with tr.span("sources.merge.upsert_entities", "sources.merge") as s:
                stats = upsert_entities(clusters, self.sink, key_col="doc_id")
                s.attrs["buckets_touched"] = stats["n_buckets_touched"]
                s.attrs["rows_updated"] = out[0]
            self.last = ErOutput(blocks, clusters, cached)
            return out

        with tr.span("er_batch.op", "perfbench", new_trace=True) as root:
            self.outputs.append(run.attempt(once))
        merge = [s for s in tr.children(root) if s.layer == "sources.merge"]
        run.record("traced_" + self.op_metric, root.duration - sum(s.duration for s in merge))

    def gate(self, run: Run) -> None:
        """Every operation's (doc_id, entity_id) fingerprint must be the
        same, within the run and across runs of the same program on the
        same corpus; pairwise F1 on the labeled pairs must reach 0.99; after
        a traced run the entity table must equal the last assignment."""
        f1 = None
        sink_ok = self.sink is None
        if self.last is not None and self.last.clusters is not None:
            f1 = pairwise_f1(self.labels, self.last.blocks, self.last.clusters)["f1"]
            if self.sink is not None:
                sink_ok = self._sink_matches(run, self.last.clusters)
        self._release()
        run.gates["er_f1"] = f1
        if self.sink is not None:
            shutil.rmtree(self.sink, ignore_errors=True)
            run.gates["entity_table_ok"] = sink_ok
        done = [out for out in self.outputs if out is not None]
        path = _reference_path(run, self.name)
        if os.path.exists(path):
            with open(path) as f:
                reference = json.load(f)
        else:
            reference = done[0] if done else None
        bad = sum(1 for out in done if out != reference)
        run.gates["fingerprint"] = reference
        run.gates["mismatched_ops"] = bad
        if f1 is None or f1 < F1_FLOOR or not sink_ok:
            run.failed = run.attempted  # a wrong answer taints every op
            return
        run.failed += bad
        if not bad and not os.path.exists(path):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump(reference, f)


    def _sink_matches(self, run: Run, clusters) -> bool:
        want = {r["doc_id"]: r["entity_id"] for r in clusters.collect()}
        rows = read_entities(run.spark, self.sink).select("doc_id", "entity_id").collect()
        got = {r["doc_id"]: r["entity_id"] for r in rows}
        return len(rows) == len(got) and got == want


def _part(seed: int, doc_id: str, n_parts: int) -> int:
    h = hashlib.blake2b(f"{seed}:{doc_id}".encode(), digest_size=8).digest()
    return int.from_bytes(h, "little") % n_parts


class IngestDelete:
    name = "ingest_delete"
    op_metric = "cycle_s"
    default_size = 2000
    INCREMENT_DOCS = 200
    DELETE_DOCS = 10
    INGEST_NAMES = [
        "normalize_documents",
        "build_blocks",
        "candidate_pairs",
        "score_pairs",
        "connected_components",
        "attach_components",
        "upsert_entities",
        "delete_rows",
        "read_entities",
    ]

    def setup(self, run: Run) -> None:
        """Docs are split into ~200-doc parts by a seeded doc-id hash, so
        duplicate clusters straddle parts; half the parts form the base
        store, the rest are the increments, in seeded order."""
        import pyarrow.parquet as pq

        paths = _corpus(run, int(run.size))
        self.docs = read_documents(run.spark, paths["spans_documents"])
        ids = pq.read_table(paths["spans_documents"], columns=["doc_id"])["doc_id"]
        n_parts = max(4, len(ids) // self.INCREMENT_DOCS)
        parts: list[list[str]] = [[] for _ in range(n_parts)]
        for d in sorted(ids.to_pylist()):
            parts[_part(run.seed, d, n_parts)].append(d)
        self.rng = random.Random(run.seed)
        self.rng.shuffle(parts)
        n_base = n_parts // 2
        self.pending = parts[n_base:]
        self.present: set[str] = set()
        root = os.path.join(WORK_DIR, f"store-{os.getpid()}")
        shutil.rmtree(root, ignore_errors=True)
        self.store = ingest_mod.EntityStore(root)
        self._ingest([d for p in parts[:n_base] for d in p])

    def has_work(self) -> bool:
        return bool(self.pending)

    def _ingest(self, ids: list[str]) -> None:
        stats = ingest_mod.ingest_increment(
            self.docs.where(F.col("doc_id").isin(ids)), self.store
        )
        self.present.update(ids)
        if stats["n_docs_in"] != len(ids):
            raise AssertionError(f"increment took {stats['n_docs_in']} of {len(ids)} docs")

    def _delete(self, ids: list[str]) -> None:
        spark = self.docs.sparkSession
        stats = ingest_mod.delete_docs(
            spark.createDataFrame([(d,) for d in ids], "doc_id string"), self.store
        )
        self.present.difference_update(ids)
        if stats["n_deleted"] != len(ids):
            raise AssertionError(f"delete removed {stats['n_deleted']} of {len(ids)} docs")

    def _steps(self):
        """One cycle: an increment, then a delete batch of stored docs."""
        inc = self.pending.pop(0)
        batch = self.rng.sample(sorted(self.present), min(self.DELETE_DOCS, len(self.present)))
        return (
            ("ingest_s", "ingest_increment", self._ingest, inc),
            ("delete_s", "delete_docs", self._delete, batch),
        )

    def op(self, run: Run) -> None:
        with run.measure(self.op_metric):
            for metric, _, fn, arg in self._steps():
                run.timed(metric, fn, arg)

    def traced_op(self, run: Run) -> None:
        """Spans around the names plans.ingest imports, inside a span for
        the ingest/delete call itself."""
        tr = run.tracer
        restore = tr.wrap(
            ingest_mod,
            self.INGEST_NAMES,
            hooks={"upsert_entities": _merge_hook, "delete_rows": _merge_hook},
        )
        try:
            with tr.span("ingest_delete.cycle", "perfbench", new_trace=True) as root:
                for metric, call, fn, arg in self._steps():
                    with tr.span(f"plans.ingest.{call}", "plans.ingest") as s:
                        run.attempt(fn, arg)
                    run.record("traced_" + metric, s.duration)
        finally:
            restore()
        run.record("traced_" + self.op_metric, root.duration)

    def gate(self, run: Run) -> None:
        """The store must equal ``run_pipeline`` on the surviving docs (the
        tests/test_delete.py contract).  Its caveat — over-cap blocks may
        sample differently — is checked as a precondition."""
        survivors = self.docs.where(F.col("doc_id").isin(sorted(self.present)))
        res = run_pipeline(survivors)
        biggest = res.blocks.groupBy("block_key").count().agg(F.max("count")).collect()[0][0]
        if biggest is not None and biggest > PairsConfig().max_block_size:
            raise RuntimeError(
                f"corpus has a {biggest}-doc block over the cap, outside the "
                "incremental-equals-batch contract; use a smaller corpus"
            )
        expected = {r["doc_id"]: r["entity_id"] for r in res.clusters.collect()}
        res.features.unpersist()
        res.scored.unpersist()
        actual = {
            r["doc_id"]: r["entity_id"]
            for r in ingest_mod.read_store_entities(run.spark, self.store).collect()
        }
        diff = sorted(set(expected.items()) ^ set(actual.items()))
        run.gates["store_equals_batch"] = not diff
        run.gates["store_docs"] = len(actual)
        if diff:
            run.gates["store_diff_sample"] = [list(x) for x in diff[:5]]
            run.failed = run.attempted  # the final state is every op's output
        shutil.rmtree(self.store.root, ignore_errors=True)


def _merge_hook(tracer, span, args, kwargs, result) -> None:
    """MERGE write amplification inputs: buckets touched, and the rows the
    call was asked to change (rows rewritten are the parquet output
    records harvested from Spark later)."""
    span.attrs["buckets_touched"] = result["n_buckets_touched"]
    if "n_deleted" in result:
        span.attrs["rows_updated"] = result["n_deleted"]
    else:
        key = args[2] if len(args) > 2 else kwargs.get("key_col", "doc_id")
        with tracer.span("perfbench.count_updates", "perfbench.probe"):
            span.attrs["rows_updated"] = args[0].select(key).distinct().count()


class CatalogMix:
    name = "catalog_mix"
    op_metric = "catalog_s"
    default_size = 0.1

    def setup(self, run: Run) -> None:
        self.spark = run.spark
        self.queries = catalog.queries()
        self.rng = random.Random(run.seed)
        self.outputs: list[dict | None] = []
        self.sf_dir = catalog_tables(run.size)
        # the warm-up is one pass over the same tables: after a warm-up on
        # sf0.01 the first timed pass at sf0.1 was still a fifth slower than
        # the second
        self._pass(self.sf_dir, None)

    def has_work(self) -> bool:
        return True

    def _query(self, name: str, sf_dir: str) -> list:
        df = self.queries[name](self.spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        return [len(rows), value_hash(rows, df.columns)]

    def _pass(self, sf_dir: str, tracer: Tracer | None) -> dict[str, list]:
        order = list(HEADLINE)
        self.rng.shuffle(order)
        out = {}
        for name in order:
            if tracer is None:
                out[name] = self._query(name, sf_dir)
            else:
                with tracer.span(f"catalog.{name}", "catalog"):
                    out[name] = self._query(name, sf_dir)
        return out

    def op(self, run: Run) -> None:
        self.outputs.append(run.timed(self.op_metric, self._pass, self.sf_dir, None))

    def traced_op(self, run: Run) -> None:
        with run.tracer.span("catalog_mix.pass", "perfbench", new_trace=True) as root:
            self.outputs.append(run.attempt(self._pass, self.sf_dir, run.tracer))
        run.record("traced_" + self.op_metric, root.duration)

    def gate(self, run: Run) -> None:
        """Each query's row count and value hash must match its DuckDB
        oracle over the same parquet, on every timed pass."""
        import duckdb

        oracles = catalog.oracle_sql()
        con = duckdb.connect()
        try:
            for t in CATALOG_TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            want = {}
            for name in HEADLINE:
                res = con.execute(oracles[name])
                rows = res.fetchall()
                want[name] = [len(rows), value_hash(rows, [d[0] for d in res.description])]
        finally:
            con.close()
        bad = sum(1 for out in self.outputs if out is not None and out != want)
        run.gates["oracle_rows"] = {k: v[0] for k, v in want.items()}
        run.gates["mismatched_passes"] = bad
        run.failed += bad


WORKLOADS = {w.name: w for w in (ErBatch, IngestDelete, CatalogMix)}
