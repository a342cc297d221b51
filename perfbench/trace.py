"""Tracing from outside the program: spans, Spark status-store metrics and
wrappers around the calls into each layer.

Spans are kept in memory and written out when the run ends. Nothing here
changes the program; the wrappers delegate to the program's own objects.
"""

from __future__ import annotations

import contextlib
import time

from pyspark.accumulators import AccumulatorParam


class Spans:
    """Span recorder: name, start, end, parent and run id, in seconds since
    the recorder was made."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.records: list[dict] = []
        self._stack: list[int] = []
        self.run = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "run": self.run,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, **attrs}
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def total_ms(self, name: str, run) -> float:
        return sum((r["end"] - r["start"]) * 1e3 for r in self.records
                   if r["name"] == name and r["run"] == run)


class SumListParam(AccumulatorParam):
    """Element-wise sum of fixed-length lists of numbers."""

    def zero(self, value):
        return [0] * len(value)

    def addInPlace(self, a, b):
        return [x + y for x, y in zip(a, b)]


def job_group_metrics(sc, groups: list[str], wall_s: float, t_start_ms: float) -> dict:
    """Spark metrics of every job in ``groups``, read from the status store.

    ``t_start_ms`` is the epoch time the run started and ``wall_s`` its wall
    time; the part of that wall no job covers is the driver's idle time.
    """
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    m = dict.fromkeys(["jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                       "gc_ms", "input_bytes", "shuffle_read_bytes",
                       "shuffle_write_bytes", "spill_bytes"], 0)
    intervals, seen = [], set()
    for jid in [j for g in groups for j in tracker.getJobIdsForGroup(g)]:
        m["jobs"] += 1
        job = store.job(jid)
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append((job.submissionTime().get().getTime(),
                              job.completionTime().get().getTime()))
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            m["stages"] += 1
            m["tasks"] += st.numCompleteTasks()
            m["executor_run_ms"] += st.executorRunTime()
            m["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            m["gc_ms"] += st.jvmGcTime()
            m["input_bytes"] += st.inputBytes()
            m["shuffle_read_bytes"] += st.shuffleReadBytes()
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["spill_bytes"] += st.diskBytesSpilled()
    busy, end = 0.0, t_start_ms  # union of the job intervals
    for s, e in sorted(intervals):
        s = max(s, end)
        if e > s:
            busy += e - s
            end = e
    m["driver_idle_ms"] = max(0.0, wall_s * 1e3 - busy)
    return {f"spark.{k}": v for k, v in m.items()}


def jobs_in_group(sc, group: str) -> int:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def retained_heap_mb(sc) -> float:
    """JVM heap in use after a forced GC."""
    jvm = sc._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def live_rdds(sc) -> int:
    return len(sc._jsc.getPersistentRDDs())


class TracingSink:
    """Delegating GraphSink that records a span around each lifecycle call."""

    def __init__(self, inner, spans: Spans):
        self.inner, self.spans = inner, spans

    def start(self, graph):
        with self.spans.span("sink.start"):
            return self.inner.start(graph)

    def write_nodes(self, df, node):
        with self.spans.span("sink.write_nodes") as rec:
            res = self.inner.write_nodes(df, node)
            rec.update(rows=res.count, bytes=res.nbytes)
            return res

    def nodes_done(self):
        with self.spans.span("sink.nodes_done"):
            return self.inner.nodes_done()

    def write_edges(self, df, edge):
        with self.spans.span("sink.write_edges") as rec:
            res = self.inner.write_edges(df, edge)
            rec.update(rows=res.count, bytes=res.nbytes)
            return res

    def edges_done(self):
        with self.spans.span("sink.edges_done"):
            return self.inner.edges_done()


@contextlib.contextmanager
def traced_materialize(spans: Spans, sc, group_of):
    """Rebind ``materialize``/``materialize_count`` in ``operators.graph_algo``
    to wrappers that record a span and the jobs each call ran; restore them on
    exit. ``group_of()`` names the job group of the current call."""
    from dataflow_flex_pyarrow_to_gds_spark.operators import graph_algo

    orig = {n: getattr(graph_algo, n) for n in ("materialize", "materialize_count")}

    def wrap(name, fn):
        def traced(df):
            group = group_of()
            before = jobs_in_group(sc, group)
            with spans.span(f"materialize.{name}") as rec:
                out = fn(df)
            rec["jobs"] = jobs_in_group(sc, group) - before
            return out

        return traced

    for n, fn in orig.items():
        setattr(graph_algo, n, wrap(n, fn))
    try:
        yield
    finally:
        for n, fn in orig.items():
            setattr(graph_algo, n, fn)
