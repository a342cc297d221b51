"""Output checks. Each returns a list of error strings; empty means correct.

They compare the program's outputs with the generator's expectations in
``meta["expected"]`` (see :mod:`perfbench.gen`) and import no Spark, so the
benchmark's own tests can feed them seeded faults directly.
"""

from __future__ import annotations

import os
from collections import Counter

import pyarrow.parquet as pq

CREATE_GRAPH = "v1/CREATE_GRAPH"
NODES_DONE = "v1/NODE_LOAD_DONE"
EDGES_DONE = "v1/RELATIONSHIP_LOAD_DONE"


def _element_sums(expected: dict) -> dict[tuple[str, str], tuple]:
    """(kind, element) → (rows, key sums) the generator wrote."""
    out = {}
    for e in expected["nodes"]:
        out[("node", e["element"])] = (e["rows"], [e["key_sum"]])
    for e in expected["edges"]:
        out[("edge", e["element"])] = (e["rows"], [e["key_sum"], e["key_sum_target"]])
    return out


def check_report(report, meta: dict) -> list[str]:
    """The pipeline's own telemetry: per-element rows and unmatched sources."""
    errors = []
    exp = meta["expected"]
    for kind, results, want in (("node", report.node_results, exp["nodes"]),
                                ("edge", report.edge_results, exp["edges"])):
        got = [r.count for r in results]
        if got != [e["rows"] for e in want]:
            errors.append(f"report {kind} rows {got} != {[e['rows'] for e in want]}")
    unmatched = sorted(os.path.basename(s) for s in report.unmatched_sources)
    if unmatched != sorted(meta["unmatched"]):
        errors.append(f"report unmatched {unmatched} != {meta['unmatched']}")
    return errors


def check_flight_events(events: list[dict], meta: dict) -> list[str]:
    """What the Flight server received in one load: the lifecycle actions in
    order, every node put before NODE_LOAD_DONE and every edge put between it
    and RELATIONSHIP_LOAD_DONE, no put delivered twice, and per-element rows
    and key sums equal to the generator's."""
    errors = []
    actions = [(i, e["type"]) for i, e in enumerate(events) if e["event"] == "action"]
    types = [t for _, t in actions]
    if types != [CREATE_GRAPH, NODES_DONE, EDGES_DONE]:
        return [f"actions {types} != {[CREATE_GRAPH, NODES_DONE, EDGES_DONE]}"]
    (i_create, _), (i_nodes, _), (i_edges, _) = actions
    window = {"node": (i_create, i_nodes), "edge": (i_nodes, i_edges)}
    got: dict[tuple[str, str], list] = {}
    tags = Counter()
    for i, e in enumerate(events):
        if e["event"] != "put":
            continue
        lo, hi = window[e["kind"]]
        if not lo < i < hi:
            errors.append(f"{e['kind']} put {e['element']}/{e['tag']} arrived at "
                          f"event {i}, outside its phase ({lo}, {hi})")
        tags[(e["kind"], e["element"], e["tag"])] += 1
        acc = got.setdefault((e["kind"], e["element"]), [0, [0] * len(e["key_sums"])])
        acc[0] += e["rows"]
        acc[1] = [a + b for a, b in zip(acc[1], e["key_sums"])]
    errors += [f"put {'/'.join(t)} delivered {n} times" for t, n in tags.items() if n > 1]
    for key, (rows, sums) in _element_sums(meta["expected"]).items():
        g_rows, g_sums = got.pop(key, (0, [0] * len(sums)))
        if (g_rows, g_sums) != (rows, sums):
            errors.append(f"{key[0]} {key[1]}: got rows {g_rows} key sums {g_sums}, "
                          f"want {rows} {sums}")
    errors += [f"puts for unknown element {k}" for k in got]
    return errors


def check_parquet_export(out_dir: str, meta: dict) -> list[str]:
    """Rows and key sums read back from the files ParquetGraphSink wrote."""
    errors = []
    exp = meta["expected"]
    for kind, sub, keys, want in (
        ("node", "nodes", ["nodeId"], exp["nodes"]),
        ("edge", "edges", ["sourceNodeId", "targetNodeId"], exp["edges"]),
    ):
        for i, e in enumerate(want):
            path = os.path.join(out_dir, sub, f"element_{i:03d}")
            if not os.path.isdir(path):
                errors.append(f"{kind} {e['element']}: {path} missing")
                continue
            t = pq.read_table(path, columns=keys)
            sums = [int(t.column(k).to_numpy().sum()) for k in keys]
            want_sums = [e["key_sum"]] + ([e["key_sum_target"]] if kind == "edge" else [])
            if (t.num_rows, sums) != (e["rows"], want_sums):
                errors.append(f"{kind} {e['element']}: read back rows {t.num_rows} "
                              f"key sums {sums}, want {e['rows']} {want_sums}")
    return errors


def check_pairs(name: str, got: list, expected: list) -> list[str]:
    """``got`` and ``expected`` are (key, value) pairs; compare as maps."""
    want = dict(map(tuple, expected))
    have = dict(map(tuple, got))
    if len(have) != len(got):
        return [f"{name}: {len(got) - len(have)} duplicate keys"]
    if have == want:
        return []
    missing = want.keys() - have.keys()
    extra = have.keys() - want.keys()
    wrong = [k for k in want.keys() & have.keys() if want[k] != have[k]]
    return [f"{name}: {len(missing)} missing, {len(extra)} extra, {len(wrong)} wrong "
            f"(got, want: {[(k, have[k], want[k]) for k in wrong[:3]]})"]


def check_quantiles(got: list, expected: list) -> list[str]:
    """``got`` rows are (group, quantile, rank, value), in any order."""
    have = sorted(tuple(r) for r in got)
    want = sorted(tuple(r) for r in expected)
    if have == want:
        return []
    diff = sorted(set(have) ^ set(want))
    return [f"quantiles: {len(have)} rows vs {len(want)} expected; "
            f"{len(diff)} differ, e.g. {diff[:3]}"]
