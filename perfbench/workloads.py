"""The workloads: what one run calls, how its output is checked, and
which per-layer numbers a traced run reads.

A run takes a ``mode``:

- ``plain``: the end-to-end call with no instrumentation;
- ``traced``: the same call with spans around each layer;
- ``scan_project`` (load workloads): scan, routing and projection alone,
  written to Spark's ``noop`` sink — layer (a) of the load path;
- ``dry_put`` (load_flight): the pipeline with FlightGraphSink's default
  no-op put — layer (b), the Arrow conversion on top of (a).

``prepare`` runs before the timed call; ``run`` returns the raw outcome;
``check`` turns it into error strings;
``finish`` turns a traced outcome into per-layer numbers and releases what
the run left behind; ``summarize`` derives the numbers that compare modes.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import shutil
import statistics
import time

import pyarrow.flight as flight

from dataflow_flex_pyarrow_to_gds_spark.model import Graph
from dataflow_flex_pyarrow_to_gds_spark.operators import graph_algo, profile
from dataflow_flex_pyarrow_to_gds_spark.operators.graph import (
    project_edges,
    project_nodes,
    route_paths,
)
from dataflow_flex_pyarrow_to_gds_spark.plans.graph_load import GraphLoadPipeline
from dataflow_flex_pyarrow_to_gds_spark.sinks.flight_sink import (
    DEFAULT_CHUNK_ROWS,
    FlightGraphSink,
    flight_action_fn,
)
from dataflow_flex_pyarrow_to_gds_spark.sinks.parquet_sink import ParquetGraphSink

from . import checks, gen
from .trace import SumListParam, TracingSink, traced_materialize

#: Fields of the traced put's accumulator.
PUT_FIELDS = ("put_ms", "puts", "rows", "bytes", "failures")


def put_factory(location: str, names: dict, acc=None):
    """``make_put_factory`` for FlightGraphSink: each partition opens one
    client and tags every put ``p<partition>-a<attempt>-<seq>`` so the server
    can tell a repeated put from a new one. With ``acc``, each put adds its
    time, rows, bytes and failure to that accumulator (see PUT_FIELDS)."""

    def factory(kind, element):
        name = names[kind][element]

        def open_conn():
            from pyspark import TaskContext

            ctx = TaskContext.get()
            prefix = f"p{ctx.partitionId()}-a{ctx.attemptNumber()}"
            client = flight.connect(location)
            seq = itertools.count()

            def put(table):
                t0 = time.perf_counter()
                desc = flight.FlightDescriptor.for_path(kind, name, f"{prefix}-{next(seq)}")
                try:
                    writer, _ = client.do_put(desc, table.schema)
                    writer.write_table(table)
                    writer.close()
                except Exception:
                    if acc is not None:
                        acc.add([0, 0, 0, 0, 1])
                    raise
                if acc is not None:
                    acc.add([(time.perf_counter() - t0) * 1e3, 1, table.num_rows,
                             table.nbytes, 0])

            return put

        return open_conn

    return factory


class Context:
    """Per-run handles: the span recorder and the run's job groups."""

    def __init__(self, sc, spans, run_id, traced: bool):
        self.sc, self.spans, self.run_id, self.traced = sc, spans, run_id, traced
        self.groups: list[str] = []

    def group(self, op: str) -> None:
        """Tag the jobs that follow with the job group ``<run>/<op>``."""
        if self.traced:
            g = f"perfbench-{self.run_id}/{op}"
            self.groups.append(g)
            self.sc.setJobGroup(g, g)

    def current_group(self) -> str:
        return self.groups[-1]

    def span(self, name: str):
        return self.spans.span(name) if self.traced else contextlib.nullcontext()


def median(xs) -> float:
    """Median, or 0 when a mode produced no sample."""
    return statistics.median(xs) if xs else 0.0


class Workload:
    """What every workload shares: the modes its traced run cycles
    through, its cold runs before timing, and no per-mode summary or
    resources unless it says so."""

    trace_modes = ("plain", "traced")
    warmup_runs = 1

    def prepare(self, mode: str) -> None:
        """Called before each run, outside its timed region."""

    def close(self):
        pass

    @staticmethod
    def summarize(walls: dict, layer: dict, input_rows: int) -> dict:
        """Per-layer numbers that compare modes: ``walls`` maps each mode
        to its run times, ``layer`` holds the medians of the traced runs."""
        return {}


class _GraphLoad(Workload):
    trace_modes = ("plain", "traced", "scan_project")

    def __init__(self, spark, input_dir: str, meta: dict, work_dir: str):
        self.spark, self.meta = spark, meta
        self.graph = Graph.from_json(json.dumps(meta["model"]))
        self.sources = [os.path.join(input_dir, f) for f in meta["files"]]
        self.input_rows = meta["input_rows"]
        exp = meta["expected"]
        self.names = {
            "node": dict(zip(self.graph.nodes, [e["element"] for e in exp["nodes"]])),
            "edge": dict(zip(self.graph.edges, [e["element"] for e in exp["edges"]])),
        }
        self.runs_dir = os.path.join(work_dir, "runs", str(os.getpid()))

    def _scan_project(self, ctx):
        """Layer (a): routing, scan and projection, written to ``noop``."""
        ctx.group("scan_project")
        node_map, edge_map, _ = route_paths(self.sources, self.graph)
        for elements, project in ((node_map, project_nodes), (edge_map, project_edges)):
            for element, paths in elements.items():
                df = self.spark.read.parquet(*paths).select(*element.fields())
                project(df, element).write.format("noop").mode("overwrite").save()

    def _pipeline(self, sink, ctx):
        ctx.group("load")
        if ctx.traced:
            sink = TracingSink(sink, ctx.spans)
        with ctx.span("graph_load.run"):
            return GraphLoadPipeline(self.spark, self.graph, sink,
                                     max_parallel_elements=1).run(self.sources)

    @classmethod
    def summarize(cls, walls: dict, layer: dict, input_rows: int) -> dict:
        a = median(walls.get("scan_project", []))
        return {
            "graph_load.input_rows": input_rows,
            "graph_load.scan_project_ms": a * 1e3,
            "graph_load.scan_project_rows_per_s": input_rows / a if a else 0.0,
        }

    def _phase_metrics(self, ctx) -> dict:
        s, r = ctx.spans, ctx.run_id
        return {
            "graph_load.node_phase_ms": s.total_ms("sink.write_nodes", r),
            "graph_load.edge_phase_ms": s.total_ms("sink.write_edges", r),
            "graph_load.barrier_ms": sum(s.total_ms(n, r) for n in
                                         ("sink.start", "sink.nodes_done", "sink.edges_done")),
        }


class LoadFlight(_GraphLoad):
    trace_modes = ("plain", "traced", "scan_project", "dry_put")
    warmup_runs = 3  # measured: runs 2-3 are still 10-20% slower than later ones

    def __init__(self, spark, input_dir, meta, work_dir, location: str):
        super().__init__(spark, input_dir, meta, work_dir)
        self.location = location
        self.control = flight.connect(location)
        self.chunk_rows = DEFAULT_CHUNK_ROWS

    def _server(self, action: str):
        res = list(self.control.do_action(flight.Action(action, b"")))
        return json.loads(res[0].body.to_pybytes())

    def prepare(self, mode: str) -> None:
        if mode in ("plain", "traced"):
            self._server("bench/reset")

    def close(self):
        self.control.close()

    def run(self, mode: str, ctx):
        if mode == "scan_project":
            return self._scan_project(ctx)
        if mode == "dry_put":
            return self._pipeline(FlightGraphSink(chunk_rows=self.chunk_rows), ctx)
        acc = None
        send = flight_action_fn(self.location)
        if ctx.traced:
            acc = ctx.sc.accumulator([0.0] * len(PUT_FIELDS), SumListParam())
            untimed = send

            def send(action_type, body):
                with ctx.span("flight_sink.action"):
                    return untimed(action_type, body)

        sink = FlightGraphSink(host="127.0.0.1", tls=False, chunk_rows=self.chunk_rows,
                               make_put_factory=put_factory(self.location, self.names, acc),
                               action_fn=send)
        report = self._pipeline(sink, ctx)
        return {"report": report, "acc": acc}

    def check(self, mode: str, out) -> list[str]:
        if mode == "scan_project":
            return []
        if mode == "dry_put":
            return checks.check_report(out, self.meta)
        out["events"] = self._server("bench/stats")
        return (checks.check_report(out["report"], self.meta)
                + checks.check_flight_events(out["events"], self.meta))

    def finish(self, mode: str, out, ctx) -> dict:
        if mode != "traced":
            return {}
        events = [e for e in out["events"] if e["event"] == "put"]
        put = dict(zip(PUT_FIELDS, out["acc"].value))
        return {
            **self._phase_metrics(ctx),
            "flight_sink.put_ms": put["put_ms"],
            "flight_sink.puts": put["puts"],
            "flight_sink.rows_per_put": put["rows"] / max(put["puts"], 1),
            "flight_sink.chunk_yield": put["rows"] / max(put["puts"], 1) / self.chunk_rows,
            "flight_sink.put_bytes": put["bytes"],
            "flight_sink.put_failures": put["failures"],
            "flight_sink.action_ms": ctx.spans.total_ms("flight_sink.action", ctx.run_id),
            "flight_server.recv_rows": sum(e["rows"] for e in events),
            "flight_server.recv_ms": sum(e["recv_ms"] for e in events),
            "_arrow_bytes": out["report"].final.nbytes,
        }

    @classmethod
    def summarize(cls, walls: dict, layer: dict, input_rows: int) -> dict:
        """Layers (a) scan+project, (b) plus Arrow conversion and (c) plus
        the real put, in rows/s and in bytes/s of the Arrow tables put."""
        out = super().summarize(walls, layer, input_rows)
        a, b, c = (median(walls.get(m, [])) for m in ("scan_project", "dry_put", "plain"))
        nbytes = layer.get("_arrow_bytes", 0)
        out["flight_sink.arrow_ms"] = (b - a) * 1e3
        for name, t in (("graph_load.scan_project", a), ("flight_sink.arrow", b),
                        ("flight_sink.put", c)):
            out[f"{name}_bytes_per_s"] = nbytes / t if t else 0.0
        out["flight_sink.arrow_rows_per_s"] = input_rows / b if b else 0.0
        out["flight_sink.put_rows_per_s"] = input_rows / c if c else 0.0
        return out


class LoadParquet(_GraphLoad):
    warmup_runs = 4  # measured: runs 2-4 are still 10-40% slower than later ones

    def __init__(self, spark, input_dir, meta, work_dir):
        super().__init__(spark, input_dir, meta, work_dir)
        self._n = itertools.count()

    def close(self):
        shutil.rmtree(self.runs_dir, ignore_errors=True)

    def run(self, mode: str, ctx):
        if mode == "scan_project":
            return self._scan_project(ctx)
        out_dir = os.path.join(self.runs_dir, str(next(self._n)))  # fresh per run
        return {"report": self._pipeline(ParquetGraphSink(out_dir), ctx), "dir": out_dir}

    def check(self, mode: str, out) -> list[str]:
        if mode == "scan_project":
            return []
        return (checks.check_report(out["report"], self.meta)
                + checks.check_parquet_export(out["dir"], self.meta))

    def finish(self, mode: str, out, ctx) -> dict:
        if mode == "scan_project":
            return {}
        if mode == "traced":
            m = {
                **self._phase_metrics(ctx),
                "parquet_sink.write_ms": (ctx.spans.total_ms("sink.write_nodes", ctx.run_id)
                                          + ctx.spans.total_ms("sink.write_edges", ctx.run_id)),
                "parquet_sink.output_bytes": out["report"].final.nbytes,
                "parquet_sink.files": len(glob.glob(os.path.join(out["dir"], "*", "*",
                                                                 "*.parquet"))),
            }
        else:
            m = {}
        shutil.rmtree(out["dir"], ignore_errors=True)
        return m



class Iterative(Workload):
    """The iterative operators, one after another: connected_components,
    pagerank_fixedpoint and connected_components_incremental over the
    generated graph, then exact_quantiles_grouped over the value table."""

    def __init__(self, spark, input_dir, meta, work_dir):
        self.spark, self.meta = spark, meta
        self.paths = {n: os.path.join(input_dir, f"{n}.parquet")
                      for n in ("nodes", "edges", "delta", "values")}
        self.input_rows = meta["input_rows"]

    def run(self, mode: str, ctx):
        nodes, edges, delta, values = (self.spark.read.parquet(self.paths[n])
                                       for n in ("nodes", "edges", "delta", "values"))
        with (traced_materialize(ctx.spans, ctx.sc, ctx.current_group) if ctx.traced
              else contextlib.nullcontext()):
            ctx.group("cc")
            with ctx.span("graph_algo.cc"):
                cc = graph_algo.connected_components(nodes, edges, max_iter=30)
                cc_out = cc.toArrow()
            ctx.group("pagerank")
            with ctx.span("graph_algo.pagerank"):
                pr_out = graph_algo.pagerank_fixedpoint(
                    nodes, edges, iters=gen.PAGERANK_ITERS, scale=gen.PAGERANK_SCALE
                ).toArrow()
            ctx.group("cc_incremental")
            with ctx.span("graph_algo.cc_incremental"):
                inc_out = graph_algo.connected_components_incremental(
                    cc, delta, max_iter=30).toArrow()
        ctx.group("quantiles")
        with ctx.span("profile.quantiles"):
            q_out = profile.exact_quantiles_grouped(
                values, "grp", "val", gen.QUANTILES, local_threshold=gen.LOCAL_THRESHOLD,
            ).collect()
        return cc_out, pr_out, inc_out, q_out

    def check(self, mode: str, out) -> list[str]:
        cc, pr, inc, q = out
        exp = self.meta["expected"]

        def pairs(t, value):
            return list(zip(t.column("nodeId").to_pylist(), t.column(value).to_pylist()))

        return (checks.check_pairs("cc", pairs(cc, "component"), exp["cc"])
                + checks.check_pairs("pagerank", pairs(pr, "rank_fp"), exp["pagerank"])
                + checks.check_pairs("cc_incremental", pairs(inc, "component"),
                                     exp["cc_incremental"])
                + checks.check_quantiles([tuple(r) for r in q], exp["quantiles"]))

    def finish(self, mode: str, out, ctx) -> dict:
        if mode != "traced":
            return {}
        s, r = ctx.spans, ctx.run_id
        jobs = {g.rsplit("/", 1)[1]: len(ctx.sc.statusTracker().getJobIdsForGroup(g))
                for g in ctx.groups}
        mat = [x for x in s.records if x["run"] == r and x["name"].startswith("materialize.")]
        return {
            "graph_algo.cc_ms": s.total_ms("graph_algo.cc", r),
            "graph_algo.cc_jobs": jobs["cc"],
            "graph_algo.pagerank_ms": s.total_ms("graph_algo.pagerank", r),
            "graph_algo.pagerank_jobs": jobs["pagerank"],
            "graph_algo.cc_incremental_ms": s.total_ms("graph_algo.cc_incremental", r),
            "graph_algo.cc_incremental_jobs": jobs["cc_incremental"],
            "materialize.calls": len(mat),
            "materialize.ms": sum((x["end"] - x["start"]) * 1e3 for x in mat),
            "materialize.jobs_per_call": sum(x["jobs"] for x in mat) / max(len(mat), 1),
            "profile.quantiles_ms": s.total_ms("profile.quantiles", r),
            "profile.quantiles_jobs": jobs["quantiles"],
        }


WORKLOADS = {"load_flight": LoadFlight, "load_parquet": LoadParquet, "iterative": Iterative}
