"""Process-level plumbing shared by every workload: host sizing, the Spark
session, peak-RSS sampling, summary statistics and clean shutdown.

Everything the benchmark reads or writes lives under the checkout: inputs
are cached in ``perfbench/.cache`` and scratch state (Spark local dirs,
temp files, entity stores, traces) in ``perfbench/.work``.
"""

from __future__ import annotations

import os
import signal
import statistics
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")
WORK_DIR = os.path.join(BENCH_DIR, ".work")
PACKAGE = "mediachain_indexer_spark"

# Spark's own status store keeps 1000 jobs/stages by default; a traced run
# harvests after every operation, but a raised limit keeps a long loop from
# evicting entries before they are read.
SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "20000",
    "spark.ui.retainedStages": "20000",
}


def require_program() -> None:
    """Fail fast when the checkout holds only the benchmark."""
    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        raise SystemExit(
            f"perfbench: {PACKAGE}/ not found next to perfbench/ in {REPO}; "
            "run from a full checkout of the repository"
        )


def host_settings() -> dict[str, str]:
    """Session settings sized from this host, not from session.py defaults.

    The program's default 16g pre-touched heap cannot start a JVM on a small
    host, so the heap is a fifth of MemTotal, clamped to [1g, 4g]; cores come
    from the scheduler affinity mask.  Inherited ``SPARK_GRAFT_*`` knobs are
    dropped so every run measures the program's own defaults.  Spark's local
    dirs and the JVM's temp dir sit under ``perfbench/.work``, not in the
    program's default ``/dev/shm``, because the benchmark writes only inside
    its checkout; ``-XX:-UsePerfData`` keeps the JVM out of ``/tmp``.
    """
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_gb = max(1, min(4, mem_kb // (5 * 1024 * 1024)))
    local = os.path.join(WORK_DIR, "spark-local")
    tmp = os.path.join(WORK_DIR, "tmp")
    pythonpath = os.environ.get("PYTHONPATH", "")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": REPO + (os.pathsep + pythonpath if pythonpath else ""),
    }


def apply_settings(settings: dict[str, str]) -> None:
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ.update(settings)
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(settings[key], exist_ok=True)
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def start_spark():
    from mediachain_indexer_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=SPARK_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _proc_table() -> dict[int, int]:
    """pid -> ppid of every process."""
    table: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        table[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return table


def descendants(root: int, table: dict[int, int] | None = None) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in (table or _proc_table()).items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _statm(pid: int) -> tuple[int, int]:
    """(virtual size, resident) pages, or (0, 0) once the process is gone."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            size, resident = f.read().split()[:2]
        return int(size), int(resident)
    except (OSError, ValueError):
        return 0, 0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its live
    descendants, with the children each has reaped: a Python worker that
    exits is folded into its parent's cutime/cstime, so it still counts."""
    me = os.getpid()
    total = 0
    for pid in [me, *descendants(me)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, busy) jiffies of the whole host from /proc/stat; busy is
    user + nice + system + irq + softirq + steal (guest time is already in
    user; idle and iowait are left out)."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return steal, user + nice + system + irq + softirq + steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the host's busy CPU time the hypervisor stole in between."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def _shares(child: tuple[int, int], parent: tuple[int, int] | None) -> bool:
    """Whether a child reads as its parent's address space: the JVM between
    posix_spawn and exec (Hadoop's local file system spawns ``chmod`` for
    each file it writes) shares the JVM's memory, and counting it would
    double the JVM.  The two are read a moment apart, so the resident size
    may differ by a little."""
    return (
        parent is not None
        and child[0] == parent[0]
        and abs(child[1] - parent[1]) <= parent[1] // 100
    )


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver JVM
    plus Python workers), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        me = os.getpid()
        table = _proc_table()
        pids = [me, *descendants(me, table)]
        statm = {p: _statm(p) for p in pids}
        total = sum(
            m[1] for p, m in statm.items() if p == me or not _shares(m, statm.get(table[p]))
        )
        self.peak_bytes = max(self.peak_bytes, total * os.sysconf("SC_PAGE_SIZE"))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)


def stop_spark(spark) -> None:
    """Stop the session, close the gateway JVM and wait for every descendant
    (the JVM and its Python workers) to exit; stragglers are killed."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit is handled by kill
            proc.kill()
            proc.wait(timeout=10)
    reap_descendants()


def reap_descendants(timeout_s: float = 20.0) -> None:
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while descendants(me) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(me):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while descendants(me) and time.monotonic() < deadline:
        time.sleep(0.1)


TAIL_PERCENTILES = (99.9, 99.0, 90.0, 75.0, 50.0)


def summarize(samples: list[float]) -> dict:
    """Median and sample count, plus ``p<q>`` for the highest percentile
    with at least ten samples beyond it, when there is one."""
    n = len(samples)
    out: dict = {"median": statistics.median(samples) if samples else None, "n": n}
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10:
            ordered = sorted(samples)
            out[f"p{p:g}"] = ordered[min(n - 1, int(p / 100.0 * n))]
            break
    return out
