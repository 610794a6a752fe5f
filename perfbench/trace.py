"""In-memory spans around the benchmark's calls into the program's modules,
with Spark status-store metrics attributed to the innermost open span.

Each span sets its own Spark job group, so every job the program starts
while the span is open is tagged with it; after an operation the benchmark
calls ``harvest()``, which reads ``jobsList`` and ``stageList`` from the
status store and folds job/stage metrics into the owning spans.  Spans are
written out as JSON lines by ``dump()`` when the run ends.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE_PREFIX = "mediachain_indexer_spark."

SPARK_SUMS = (
    "jobs",
    "tasks",
    "tasks_failed",
    "executor_cpu_s",
    "executor_run_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_records",
)


@dataclass
class Span:
    name: str
    layer: str
    span_id: int
    parent_id: int | None
    trace_id: int
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=lambda: dict.fromkeys(SPARK_SUMS, 0))
    job_intervals: list = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-{self.span_id}"

    @property
    def duration(self) -> float:
        return (self.end or time.time()) - self.start


def layer_of(fn) -> str:
    return fn.__module__.removeprefix(PACKAGE_PREFIX)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self._trace_id = 0
        self._by_group: dict[str, Span] = {}
        self._job_floor = 0
        self._stage_floor = 0

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, layer: str, new_trace: bool = False):
        parent = self._stack[-1] if self._stack else None
        if new_trace or parent is None:
            self._trace_id += 1
        self._next_id += 1
        s = Span(
            name=name,
            layer=layer,
            span_id=self._next_id,
            parent_id=parent.span_id if parent else None,
            trace_id=self._trace_id,
            start=time.time(),
        )
        self.spans.append(s)
        self._by_group[s.group] = s
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, module, names: list[str], hooks: dict | None = None):
        """Replace ``module.<name>`` for each name with a span-recording
        wrapper; ``hooks[name](tracer, span, args, kwargs, result)`` may add
        attributes.  Returns a function that restores the originals."""
        originals = {n: getattr(module, n) for n in names}

        def make(fn, hook):
            @functools.wraps(fn)
            def traced(*args, **kwargs):
                with self.span(f"{layer_of(fn)}.{fn.__name__}", layer_of(fn)) as s:
                    result = fn(*args, **kwargs)
                if hook is not None:
                    hook(self, s, args, kwargs, result)
                return result

            return traced

        for n, fn in originals.items():
            setattr(module, n, make(fn, (hooks or {}).get(n)))

        def restore():
            for n, fn in originals.items():
                setattr(module, n, fn)

        return restore

    def harvest(self) -> None:
        """Fold every job and stage finished since the last harvest into the
        span whose job group it carries.  Call only between operations."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        stage_owner: dict[int, Span] = {}
        max_job = self._job_floor - 1
        jobs = store.jobsList(None).iterator()  # newest first
        while jobs.hasNext():
            j = jobs.next()
            job_id = j.jobId()
            if job_id < self._job_floor:
                break
            max_job = max(max_job, job_id)
            group = j.jobGroup()
            span = self._by_group.get(group.get()) if group.isDefined() else None
            if span is None:
                continue
            span.spark["jobs"] += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                span.job_intervals.append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            ids = j.stageIds().iterator()
            while ids.hasNext():
                stage_owner.setdefault(int(ids.next()), span)
        self._job_floor = max_job + 1

        max_stage = self._stage_floor - 1
        quantiles = self.sc._gateway.new_array(jvm.double, 0)
        stages = store.stageList(
            None, False, False, quantiles, jvm.java.util.ArrayList()
        ).iterator()  # newest first
        while stages.hasNext():
            st = stages.next()
            stage_id = st.stageId()
            if stage_id < self._stage_floor:
                break
            max_stage = max(max_stage, stage_id)
            span = stage_owner.get(stage_id)
            if span is None or st.status().toString() == "SKIPPED":
                continue
            m = span.spark
            m["tasks"] += st.numTasks()
            m["tasks_failed"] += st.numFailedTasks()
            m["executor_cpu_s"] += st.executorCpuTime() / 1e9
            m["executor_run_s"] += st.executorRunTime() / 1e3
            m["shuffle_read_bytes"] += st.shuffleReadBytes()
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["spill_bytes"] += st.diskBytesSpilled()
            m["output_records"] += st.outputRecords()
        self._stage_floor = max_stage + 1

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent_id == span.span_id]

    def self_time(self, span: Span) -> float:
        return span.duration - sum(c.duration for c in self.children(span))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "name": s.name,
                            "layer": s.layer,
                            "trace_id": s.trace_id,
                            "span_id": s.span_id,
                            "parent_id": s.parent_id,
                            "start": s.start,
                            "end": s.end,
                            "self_s": self.self_time(s),
                            "attrs": s.attrs,
                            "spark": s.spark,
                        }
                    )
                    + "\n"
                )


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_metrics(tracer: Tracer, spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per-layer totals over ``spans``: wall (outermost spans of the layer),
    self time, calls, Spark sums, the driver-side gap (self time not covered
    by the layer's own Spark jobs) and summed span attributes."""
    ids = {s.span_id: s for s in spans}
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        m = out.setdefault(
            s.layer,
            {"wall_s": 0.0, "self_s": 0.0, "calls": 0, "driver_gap_s": 0.0,
             **dict.fromkeys(SPARK_SUMS, 0)},
        )
        parent = ids.get(s.parent_id)
        nested = False
        while parent is not None:
            if parent.layer == s.layer:
                nested = True
                break
            parent = ids.get(parent.parent_id)
        if not nested:
            m["wall_s"] += s.duration
        self_s = tracer.self_time(s)
        m["self_s"] += self_s
        m["calls"] += 1
        busy = _union_length(s.job_intervals, s.start, s.end)
        m["driver_gap_s"] += max(0.0, self_s - busy)
        for k in SPARK_SUMS:
            m[k] += s.spark[k]
        for k, v in s.attrs.items():
            m[k] = m.get(k, 0) + v
    return out


def _trace_row(tracer: Tracer, spans: list[Span]) -> dict[str, float]:
    """Flat ``<layer>.<metric>`` numbers for one traced operation; spans of
    the benchmark's own probes count as tracing overhead, not program."""
    root = next(s for s in spans if s.parent_id is None)
    layers = layer_metrics(tracer, spans)
    probe_s = layers.pop("perfbench.probe", {}).get("wall_s", 0.0)
    layers.pop(root.layer, None)
    row: dict[str, float] = {}
    for layer, m in layers.items():
        for k, v in m.items():
            row[f"{layer}.{k}"] = v
    if "plans.ingest" in layers:
        row["plans.ingest.other_s"] = layers["plans.ingest"]["self_s"]
    if "sources.merge" in layers:
        m = layers["sources.merge"]
        row["sources.merge.rows_rewritten_per_row_updated"] = m["output_records"] / max(
            1, m["rows_updated"]
        )
    for s in spans:
        if s.layer == "catalog":
            row[f"{s.name}.wall_s"] = s.duration
    program = [s for s in spans if s.layer != "perfbench.probe"]
    for k in SPARK_SUMS:
        row[f"spark.{k}"] = sum(s.spark[k] for s in program)
    busy = _union_length([iv for s in program for iv in s.job_intervals], root.start, root.end)
    row["spark.driver_gap_s"] = root.duration - probe_s - busy
    row["trace.e2e_s"] = root.duration
    row["trace.self_coverage"] = sum(m["self_s"] for m in layers.values()) / max(
        1e-9, root.duration - probe_s
    )
    return row


def trace_summary(tracer: Tracer) -> dict[str, float]:
    """Per-layer metrics of each traced operation (one trace each), as the
    median over the run's traced operations."""
    traces: dict[int, list[Span]] = {}
    for s in tracer.spans:
        traces.setdefault(s.trace_id, []).append(s)
    rows = [_trace_row(tracer, spans) for spans in traces.values()]
    keys = sorted({k for r in rows for k in r})
    return {k: statistics.median(r.get(k, 0) for r in rows) for k in keys}
