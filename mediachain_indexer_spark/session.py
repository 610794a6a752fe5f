"""SparkSession factory with the engine's standard configuration.

Scale rationale (tuned for a 1000-executor cluster, tested on local[N]):

- AQE on, with skew-join splitting and partition coalescing: the LSH-band
  self-join has power-law block sizes; AQE splits oversized shuffle
  partitions at runtime, on top of our explicit salting/size-cap
  (operators/pairs.py).  Coalescing also reaches the plans of
  ``persist()``ed frames (the pipeline's features / staged / scored
  caches), so each cached ER stage runs at a width sized to its data
  rather than at ``spark.sql.shuffle.partitions``.
- Driver heap sized from the host: about 40% of MemTotal, capped at 16g
  (``SPARK_DRIVER_MEM`` overrides).  The JVM grows it on demand.
- Shuffle spill dir on the RAM-backed ``/dev/shm`` when its free space
  covers the heap, else Spark's default; Spark's ``SPARK_LOCAL_DIRS``
  overrides either.
- Arrow everything: the pipeline's only JVM→Python crossings are
  Arrow-batched — the MinHash and Jaro-Winkler pandas_udfs and the CC
  contraction's mapInPandas union-find — never row-at-a-time Python.
- Nested-schema pruning: the blocking stage must read only `spans.text`
  / `spans.media_ref` leaves out of the interleaved spans struct, not the
  whole array blob.
- Generated-code cache of 1000 classes, not Spark's 100
  (``CODEGEN_CACHE_ENTRIES``): at 100, every 2,000-doc ``run_pipeline``
  after the first recompiled 23 classes and the JIT compiled them afresh.
- Stage expressions are built once per SparkContext (``per_context``):
  rebuilt per call, normalize → score cost about 5,150 py4j round trips.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
MAX_DEFAULT_HEAP_GB = 16
# spark.sql.codegen.cache.maxEntries (a static conf).  Working sets, counted
# as CodegenMetrics compiles at a 1000-entry cache on a 4-core host: perfbench's
# er_batch compiles 97 classes in its warm-up and 28 more in its gate, one
# catalog_mix pass 105.  Spark's Guava cache splits the bound over 4 segments
# and evicts per segment, so at the default 100 every er_batch op recompiled
# 23 classes and every catalog_mix pass 15-33; at 1000 both recompile none.
CODEGEN_CACHE_ENTRIES = 1000

_T = TypeVar("_T")
_MEMO_LOCK = threading.RLock()
_memo_context: object = None
_memo: dict[Hashable, object] = {}


def _active_context() -> object:
    return SparkContext._active_spark_context


def per_context(key: Hashable, build: Callable[[], _T]) -> _T:
    """``build()``, once per ``key`` under the active SparkContext.

    Each column function is a few py4j round trips, so rebuilding the
    stages' expression trees on every call cost 0.8-0.9 s of driver time per
    normalize → score build, although nothing in them depends on the data.
    The memo holds one context's entries and drops them when another
    context becomes active: a pandas UDF binds to its context's accumulator
    on first use, so a stopped and restarted session must never reuse one.
    Callers apply a memoized UDF per call, so each plan gets its own
    PythonUDF result id; only JVM-only expression trees are shared.
    """
    ctx = _active_context()
    global _memo_context
    with _MEMO_LOCK:
        if ctx is not _memo_context:
            _memo.clear()
            _memo_context = ctx
        if key not in _memo:
            _memo[key] = build()
        return _memo[key]  # type: ignore[return-value]


def _default_heap() -> str:
    """About 40% of physical RAM, capped at 16g, as a JVM memory spec.

    40% leaves room for the Python workers and the RAM-backed shuffle dir
    on a small host.  Without /proc/meminfo the cap is used.
    """
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{MAX_DEFAULT_HEAP_GB}g"
    return f"{max(1, min(MAX_DEFAULT_HEAP_GB, int(0.4 * kb / 2**20)))}g"


def _heap_gb(heap: str) -> float:
    """Parse a JVM memory spec ('16g', '16384m') to GB for the /dev/shm
    room check (_shm_local_dir).  Unknown/malformed specs (empty env var,
    '1,5g', bare 'g') return 0.0 — the check then asks for no room, and
    Spark's own config validation reports the bad value with its usual
    error."""
    try:
        if heap and heap[-1] in "gG":
            return float(heap[:-1])
        if heap and heap[-1] in "mM":
            return float(heap[:-1]) / 1024
    except ValueError:
        pass
    return 0.0


def _shm_local_dir(heap: str) -> str | None:
    """Spark's local dir on the RAM-backed ``/dev/shm`` when it is writable
    and its free space is at least the driver heap, else None (Spark's
    default under java.io.tmpdir).  A container's default 64 MB ``/dev/shm``
    is writable but too small to hold a shuffle spill."""
    shm = "/dev/shm"
    try:
        st = os.statvfs(shm)
    except OSError:
        return None
    room = st.f_bavail * st.f_frsize >= _heap_gb(heap) * 2**30
    if room and os.access(shm, os.W_OK):
        return os.path.join(shm, "spark-local")
    return None


def get_spark(
    app_name: str = "mediachain-indexer-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    set_master: bool = True,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``cores=None`` → ``local[$SPARK_GRAFT_CPUS or *]``.  Under
    ``spark-submit`` pass ``set_master=False`` so the launcher's ``--master``
    wins (jobs/dedupe_job.py does); the confs below are master-agnostic.
    """
    if cores is None:
        env_cores = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env_cores}]" if env_cores else "local[*]"
    else:
        master = f"local[{cores}]"

    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    heap = os.environ.get("SPARK_DRIVER_MEM") or _default_heap()

    builder = SparkSession.builder.appName(app_name)
    if set_master:
        builder = builder.master(master)
    builder = (
        builder
        # --- adaptive execution: runtime re-planning for skew + small shuffles
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Spark plans persist()ed queries with this off, so AQE could not
        # coalesce inside the features, staged and scored caches: they kept
        # hashpartitioning(..., 32) and every stage feeding them ran 32
        # tasks however small its data.  Each Arrow task pays a fixed
        # Python-worker cost: at 2000 docs on 4 cores the score stage's 32
        # tasks ran 14.7 s of executor time for 1.5 s of JVM CPU, while the
        # UDF kernels need well under 1 s.  With coalescing, run_pipeline
        # there ran ~150 tasks instead of ~500 and its median wall fell
        # 15.9 -> 9.7 s over 10 paired runs, with identical output.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # --- shuffle sizing
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # --- join strategy: feature/dim relations are small relative to the
        # pair table; let Spark (and AQE at runtime) flip SMJ → broadcast-hash
        # up to 128 MB — at 10^12-doc scale the stats exceed this and the
        # shuffle join is chosen automatically
        .config("spark.sql.autoBroadcastJoinThreshold", "128m")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "128m")
        # --- Arrow: vectorized pandas_udf transfer; cap batch memory
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- nested column pruning through the spans array<struct>
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # --- deterministic sessions: no timezone surprises in goldens
        .config("spark.sql.session.timeZone", "UTC")
        # --- generated-code cache sized to the engine's working set
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
    )
    # shuffle spill dir: RAM-backed /dev/shm when it has room for a heap's
    # worth of spill (_shm_local_dir) — concurrent shuffle writers on a slow
    # shared disk anti-scale with core count.  SPARK_LOCAL_DIRS wins over it.
    local_dir = _shm_local_dir(heap)
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
