"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The workloads and the metrics are declared in
``BENCHMARK.json``. One process:

1. generates (or reuses) the seeded input under ``.perfbench-work/``;
2. for ``load_flight``, starts the benchmark's Flight server process;
3. set-up: ``get_spark()`` plus the cold warm-up runs — this is ``setup_s``;
4. runs the workload in a closed loop, one call after the previous completes,
   for ``--seconds`` seconds, checking every output;
5. with ``--trace 0`` reports the end-to-end metrics from uninstrumented
   runs; with ``--trace 1`` alternates uninstrumented runs, instrumented
   runs and the load path's layer runs and reports the per-layer metrics,
   including the tracing overhead;
6. writes an artifact with every sample, the spans and the regime under
   ``.perfbench-work/results/``, and prints one JSON object as its last line.

It exits non-zero without a result when the program is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import socket
import subprocess
import sys
import time
import traceback

# Modules that import pyspark or the program are imported inside functions:
# main() first checks that the program is there and configures the
# environment the JVM and its workers start with.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dataflow_flex_pyarrow_to_gds_spark"
WORK = os.path.join(ROOT, ".perfbench-work")
# Runs per mode even when --seconds runs out first. A traced run takes two
# of each, in the order A B .. B A, so that a warm-up trend cancels from the
# tracing overhead (traced minus plain).
MIN_SAMPLES = {0: 1, 1: 2}
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env() -> None:
    """Keep every file Spark and its workers write inside the work
    directory, and let the Python workers import the program and this
    package. Must run before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # the JVMs' default perf files go to /tmp
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )


def cpu_probe_ms() -> float:
    """Time of a fixed single-threaded loop: comparing it across artifacts
    shows how fast the host ran each benchmark process."""
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return (time.perf_counter() - t0) * 1e3


def regime(args, nproc: int) -> dict:
    with open("/proc/loadavg") as f:
        load = f.read().split()
    import pyarrow
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": DRIVER_MEMORY,
        "load1": float(load[0]),
        "running_processes": load[3],
        "cpu_probe_ms": cpu_probe_ms(),
        "host": socket.gethostname(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def start_flight_server():
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "perfbench", "flight_server.py")],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    port = int(proc.stdout.readline())
    return proc, f"grpc://127.0.0.1:{port}"


def stop_process(proc, timeout: float = 30) -> None:
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout)


def stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        stop_process(proc)


def one_run(wl, sc, spans, run_id: int, mode: str) -> dict:
    """Run, time and check one call; for a traced run also read its layers."""
    from perfbench import trace
    from perfbench.workloads import Context

    ctx = Context(sc, spans, run_id, traced=(mode == "traced"))
    spans.run = run_id
    sample = {"run": run_id, "mode": mode, "errors": [], "layer": {}}
    wl.prepare(mode)
    t_start_ms = time.time() * 1e3
    t0 = time.perf_counter()
    try:
        out = wl.run(mode, ctx)
        sample["wall_s"] = time.perf_counter() - t0
        sample["errors"] = wl.check(mode, out)
        sample["layer"] = wl.finish(mode, out, ctx)
    except Exception:  # a failed run is counted, not fatal
        sample.setdefault("wall_s", time.perf_counter() - t0)
        sample["errors"].append(traceback.format_exc(limit=8)[-4000:])
    finally:
        if ctx.traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
    if ctx.traced:
        sample["layer"].update(trace.job_group_metrics(sc, ctx.groups, sample["wall_s"],
                                                       t_start_ms))
        sample["layer"]["session.retained_heap_mb"] = trace.retained_heap_mb(sc)
    sample["live_rdds"] = trace.live_rdds(sc)
    return sample


def per_layer(wl, samples: list[dict], live_before: int) -> dict:
    from perfbench.workloads import median

    traced = [s["layer"] for s in samples if s["mode"] == "traced" and not s["errors"]]
    keys = sorted({k for layer in traced for k in layer})
    m = {k: median([layer[k] for layer in traced if k in layer]) for k in keys}
    walls = {}
    for s in samples:
        if not s["errors"]:
            walls.setdefault(s["mode"], []).append(s["wall_s"])
    m.update(wl.summarize(walls, m, wl.input_rows))
    m["trace.overhead_ms"] = (median(walls.get("traced", [])) - median(walls.get("plain", []))) * 1e3
    m["materialize.live_rdds"] = samples[-1]["live_rdds"]
    m["materialize.live_rdds_per_run"] = (samples[-1]["live_rdds"] - live_before) / len(samples)
    return {k: v for k, v in m.items() if not k.startswith("_")}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the program package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    if args.workload not in {w["name"] for w in declared["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    configure_env()

    from perfbench import gen
    from perfbench.trace import Spans
    from perfbench.workloads import WORKLOADS, median

    nproc = len(os.sched_getaffinity(0))
    info = regime(args, nproc)
    if info["load1"] > nproc:
        print(f"perfbench: WARNING contended start: load1 {info['load1']} on {nproc} cpus",
              file=sys.stderr)
    input_dir, meta = gen.cached_inputs(args.workload, args.seed, WORK)

    from dataflow_flex_pyarrow_to_gds_spark import get_spark

    server = spark = wl = None
    samples, spans = [], Spans()
    try:
        extra = {}
        if args.workload == "load_flight":
            server, extra["location"] = start_flight_server()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cpus=nproc)
        sc = spark.sparkContext
        info["java"] = sc._jvm.java.lang.System.getProperty("java.version")
        wl = WORKLOADS[args.workload](spark, input_dir, meta, WORK, **extra)
        for _ in range(wl.warmup_runs):
            samples.append(one_run(wl, sc, spans, len(samples), "plain"))
        setup_s = time.perf_counter() - t0
        modes = wl.trace_modes if args.trace else ("plain",)
        if args.trace:  # first runs of the other modes are cold too
            samples += [one_run(wl, sc, spans, len(samples), m) for m in modes[1:]]
        warm = len(samples)
        live_before = samples[-1]["live_rdds"]
        deadline = time.perf_counter() + args.seconds
        while True:
            done = samples[warm:]
            # stop once the next run would end past the deadline (judged by
            # the mean run so far) and every mode has its minimum
            mean = sum(s["wall_s"] for s in done) / max(len(done), 1)
            if (time.perf_counter() + mean > deadline
                    and all(sum(s["mode"] == m for s in done) >= MIN_SAMPLES[args.trace]
                            for m in modes)):
                break
            cycle, i = divmod(len(samples) - warm, len(modes))
            mode = (modes if cycle % 2 == 0 else modes[::-1])[i]
            samples.append(one_run(wl, sc, spans, len(samples), mode))
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        if server is not None:
            stop_process(server)

    info["cpu_probe_ms_end"] = cpu_probe_ms()
    measured = samples[warm:]
    failed = sum(1 for s in samples if s["errors"])
    plain = [s["wall_s"] for s in measured if s["mode"] == "plain" and not s["errors"]]
    run_s = median(plain or [s["wall_s"] for s in measured if s["mode"] == "plain"])
    end_to_end = {
        "setup_s": setup_s,
        "run_s": run_s,
        "rows_per_s": wl.input_rows / run_s,
        "success_rate": 1 - failed / len(samples),
    }
    layers = per_layer(wl, measured, live_before) if args.trace else {}
    produced = end_to_end if not args.trace else layers
    section = "per_layer" if args.trace else "end_to_end"
    unknown = set(produced) - {m["name"] for m in declared[section]}
    if unknown:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    metrics = {m["name"]: {"value": produced.get(m["name"], 0), "unit": m["unit"]}
               for m in declared[section]}

    for s in samples:
        for e in s["errors"]:
            print(f"perfbench: run {s['run']} ({s['mode']}) failed: {e}", file=sys.stderr)
    print(f"workload {args.workload} seed {args.seed}: {len(plain)} timed runs "
          f"(min {min(plain, default=0):.4f} s, max {max(plain, default=0):.4f} s), "
          f"{len(samples)} attempted, {failed} failed")
    for name, v in {**end_to_end, **layers}.items():
        unit = next((m["unit"] for sec in ("end_to_end", "per_layer")
                     for m in declared[sec] if m["name"] == name), "")
        print(f"  {name:40s} {v:16.4f} {unit}")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    artifact = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-"
                            f"trace{args.trace}-{os.getpid()}.json")
    with open(artifact, "w") as f:
        json.dump({"regime": info, "input": meta["properties"], "input_rows": wl.input_rows,
                   "end_to_end": end_to_end, "per_layer": layers, "samples": samples,
                   "spans": spans.records}, f, indent=1)
    print(f"  artifact {os.path.relpath(artifact, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": len(samples), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
