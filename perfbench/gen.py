"""Seeded input generator and reference results for every workload.

Each workload's inputs are Parquet files made from ``(workload, seed)``
alone, plus a ``meta.json`` holding the input properties the benchmark
varies and the reference results its output checks compare against. The
references are computed once per seed, outside Spark. Generation is cached
per ``(input kind, seed)`` under the work directory, so repeated runs of one
seed pay it once and it never counts toward a timed metric.
"""

from __future__ import annotations

import json
import os
import shutil
from fractions import Fraction

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Workload → the input it reads. The two load workloads share one input.
INPUT_KIND = {
    "load_flight": "graph_load",
    "load_parquet": "graph_load",
    "iterative": "iterative",
}

#: Graph-load elements: (name, rows, files). The node key ranges are
#: disjoint; edges draw their endpoints from the node elements named.
NODE_ELEMENTS = [("person", 20_000, 2), ("item", 10_000, 1)]
EDGE_ELEMENTS = [
    # (name, rows, files, source element, target element) — one large, two small
    ("bought", 120_000, 4, "person", "item"),
    ("likes", 15_000, 1, "person", "person"),
    ("reviewed", 5_000, 1, "person", "item"),
]
STRING_WIDTH = (6, 24)  # min/max characters of the string property

#: iterative, graph part: components are caterpillars — a spine path of
#: ``SPINE`` nodes with leaves hung on it — so every component's diameter
#: is at most SPINE + 1, which fixes the CC round count.
COMPONENTS = 1_000
SPINE = 2
LEAVES = (2, 12)
ISOLATED = 300
MERGE_EDGES = 300  # delta edges each merging a distinct pair of old components
INNER_EDGES = 200  # delta edges inside one old component (no-ops in label space)
NEW_NODE_EDGES = 100  # delta edges to nodes the old graph does not have
PAGERANK_ITERS = 2
PAGERANK_SCALE = 10**12

#: iterative, quantile part: enough groups to take the broadcast-joined
#: state path (the engine switches past 64 ranges).
GROUPS = 300
ZIPF_S = 1.1  # group-size skew
QROWS = 100_000
DUP_GROUP_SHARE = 0.2  # groups drawing from at most 5 distinct values
NULL_SHARE = 0.05  # share of null values; a fifth of that share has a null group
QUANTILES = [0.1, 0.5, 0.9, 0.99]
LOCAL_THRESHOLD = 50_000  # below the row count, so narrowing rounds run


def _rng(kind: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([seed, sorted(set(INPUT_KIND.values())).index(kind)])


def _strings(rng: np.random.Generator, n: int) -> pa.Array:
    """``n`` random lowercase strings of STRING_WIDTH characters."""
    lo, hi = STRING_WIDTH
    chars = rng.integers(ord("a"), ord("z") + 1, size=(n, hi), dtype=np.uint8)
    widths = rng.integers(lo, hi + 1, size=n)
    chars[np.arange(hi)[None, :] >= widths[:, None]] = 0
    raw = chars.view(f"S{hi}").ravel()  # NUL padding is stripped by numpy
    return pa.array(raw.astype(str))


def _write_split(table: pa.Table, out: str, stem: str, files: int) -> list[str]:
    names = []
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        name = f"{stem}_{i:03d}.parquet"
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out, name))
        names.append(name)
    return names


# -- graph load ------------------------------------------------------------
def graph_model() -> dict:
    """The model document routing the generated files to elements."""
    return {
        "name": "perfbench",
        "nodes": [
            {"source": rf".*/nodes_{name}_\d+\.parquet$", "key_field": "id",
             "properties": {"name": "name", "score": "score"}}
            for name, _, _ in NODE_ELEMENTS
        ],
        "edges": [
            {"source": rf".*/edges_{name}_\d+\.parquet$", "source_field": "src",
             "target_field": "dst", "default_type": name.upper(),
             "properties": {"note": "note", "weight": "weight"}}
            for name, *_ in EDGE_ELEMENTS
        ],
    }


def _gen_graph_load(rng: np.random.Generator, out: str) -> dict:
    key_base, files, expected = {}, [], {"nodes": [], "edges": []}
    base = 1
    for name, rows, _ in NODE_ELEMENTS:
        key_base[name] = (base, rows)
        base += rows + int(rng.integers(1_000, 10_000))
    for name, rows, n_files in NODE_ELEMENTS:
        lo, n = key_base[name]
        ids = rng.permutation(np.arange(lo, lo + n, dtype=np.int64))
        t = pa.table({"id": ids, "name": _strings(rng, rows),
                      "score": rng.standard_normal(rows)})
        files += _write_split(t, out, f"nodes_{name}", n_files)
        expected["nodes"].append({"element": name, "rows": rows,
                                  "key_sum": int(ids.sum())})
    for name, rows, n_files, s_el, t_el in EDGE_ELEMENTS:
        (s_lo, s_n), (t_lo, t_n) = key_base[s_el], key_base[t_el]
        src = s_lo + rng.integers(0, s_n, size=rows, dtype=np.int64)
        dst = t_lo + rng.integers(0, t_n, size=rows, dtype=np.int64)
        t = pa.table({"src": src, "dst": dst, "note": _strings(rng, rows),
                      "weight": rng.exponential(size=rows)})
        files += _write_split(t, out, f"edges_{name}", n_files)
        expected["edges"].append({"element": name, "rows": rows,
                                  "key_sum": int(src.sum()),
                                  "key_sum_target": int(dst.sum())})
    # one file no element routes: the pipeline must skip and report it
    pq.write_table(pa.table({"x": [1, 2, 3]}), os.path.join(out, "audit_log.parquet"))
    files.append("audit_log.parquet")
    rows = [e["rows"] for e in expected["edges"]]
    return {
        "files": files,
        "unmatched": ["audit_log.parquet"],
        "model": graph_model(),
        "expected": expected,
        "input_rows": sum(e["rows"] for e in expected["nodes"]) + sum(rows),
        "properties": {
            "node_elements": len(NODE_ELEMENTS),
            "edge_elements": len(EDGE_ELEMENTS),
            "files": len(files),
            "size_skew": max(rows) / min(rows),
            "string_width": list(STRING_WIDTH),
        },
    }


# -- graph fixpoint --------------------------------------------------------
def union_find_labels(n_ids: np.ndarray, edges: np.ndarray) -> dict[int, int]:
    """node id → min node id of its connected component (undirected)."""
    parent = {int(v): int(v) for v in n_ids}

    def find(v: int) -> int:
        root = v
        while parent[root] != root:
            root = parent[root]
        while parent[v] != root:
            parent[v], v = root, parent[v]
        return root

    for a, b in edges.tolist():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # the root stays the minimum
    return {v: find(v) for v in parent}


def pagerank_reference(n_ids: np.ndarray, edges: np.ndarray, iters: int,
                       scale: int, damping_num: int = 85,
                       damping_den: int = 100) -> dict[int, int]:
    """Integer PageRank with floor division, the ``pagerank_fixedpoint``
    contract: r ← base + (d·Σ_{u→v} r(u) div outdeg(u)) div den."""
    ids = np.sort(n_ids)
    n = len(ids)
    src = np.searchsorted(ids, edges[:, 0])
    dst = np.searchsorted(ids, edges[:, 1])
    outdeg = np.bincount(src, minlength=n).astype(np.int64)
    base = ((damping_den - damping_num) * scale // damping_den) // n
    rank = np.full(n, scale // n, dtype=np.int64)
    for _ in range(iters):
        contrib = rank[src] // outdeg[src]
        sums = np.zeros(n, dtype=np.int64)
        np.add.at(sums, dst, contrib)
        rank = base + (damping_num * sums) // damping_den
    return dict(zip(ids.tolist(), rank.tolist()))


def _gen_graph_fixpoint(rng: np.random.Generator, out: str) -> dict:
    sizes = SPINE + rng.integers(LEAVES[0], LEAVES[1] + 1, size=COMPONENTS)
    n_old = int(sizes.sum()) + ISOLATED
    ids = rng.choice(np.arange(1, 4 * n_old, dtype=np.int64), size=n_old + NEW_NODE_EDGES,
                     replace=False)
    old_ids, new_ids = ids[:n_old], ids[n_old:]
    edges, comp_nodes, at = [], [], 0
    for size in sizes.tolist():
        c = old_ids[at:at + size]
        at += size
        comp_nodes.append(c)
        spine, leaves = c[:SPINE], c[SPINE:]
        edges.append(np.stack([spine[:-1], spine[1:]], axis=1))
        edges.append(np.stack([spine[rng.integers(0, SPINE, size=len(leaves))], leaves],
                              axis=1))
    edges = np.concatenate(edges)
    flip = rng.random(len(edges)) < 0.5  # random direction: CC is undirected
    edges[flip] = edges[flip][:, ::-1]

    def pick(comps: np.ndarray) -> np.ndarray:
        return np.array([comp_nodes[c][rng.integers(0, len(comp_nodes[c]))]
                         for c in comps.tolist()], dtype=np.int64)

    a, b = rng.permutation(COMPONENTS)[:2 * MERGE_EDGES].reshape(2, -1)  # disjoint pairs
    inner = rng.integers(0, COMPONENTS, size=INNER_EDGES)
    delta = np.concatenate([
        np.stack([pick(a), pick(b)], axis=1),
        np.stack([pick(inner), pick(inner)], axis=1),
        np.stack([pick(rng.integers(0, COMPONENTS, size=NEW_NODE_EDGES)), new_ids], axis=1),
    ])
    delta = delta[delta[:, 0] != delta[:, 1]]

    def pairs(e: np.ndarray) -> pa.Table:
        return pa.table({"sourceNodeId": e[:, 0], "targetNodeId": e[:, 1]})

    pq.write_table(pa.table({"nodeId": rng.permutation(old_ids)}),
                   os.path.join(out, "nodes.parquet"))
    pq.write_table(pairs(edges), os.path.join(out, "edges.parquet"))
    pq.write_table(pairs(delta), os.path.join(out, "delta.parquet"))
    cc = union_find_labels(old_ids, edges)
    cc_inc = union_find_labels(np.concatenate([old_ids, new_ids]),
                               np.concatenate([edges, delta]))
    pr = pagerank_reference(old_ids, edges, PAGERANK_ITERS, PAGERANK_SCALE)
    return {
        "files": ["nodes.parquet", "edges.parquet", "delta.parquet"],
        "expected": {
            "cc": sorted(cc.items()),
            "cc_incremental": sorted(cc_inc.items()),
            "pagerank": sorted(pr.items()),
        },
        "input_rows": n_old + len(edges) + len(delta),
        "properties": {
            "nodes": n_old,
            "edges": len(edges),
            "delta_edges": len(delta),
            "components": COMPONENTS + ISOLATED,
            "component_diameter": SPINE + 1,
            "components_after_delta": len(set(cc_inc.values())),
            "pagerank_iters": PAGERANK_ITERS,
        },
    }


# -- grouped quantiles -----------------------------------------------------
def exact_rank(n: int, q: float) -> int:
    """Type-1 rank floor((n−1)·q) + 1 over q's decimal reading."""
    return int((n - 1) * Fraction(str(float(q)))) + 1


def quantiles_reference(g: np.ndarray, x: np.ndarray, quantiles: list[float]) -> list:
    """[(group, q, rank, value)] over non-null (group, value) rows;
    ``g``/``x`` use NaN for null (the generated values are finite)."""
    keep = ~np.isnan(g) & ~np.isnan(x)
    g, x = g[keep].astype(np.int64), x[keep]
    order = np.lexsort((x, g))
    g, x = g[order], x[order]
    groups, starts, counts = np.unique(g, return_index=True, return_counts=True)
    out = []
    for gv, s, n in zip(groups.tolist(), starts.tolist(), counts.tolist()):
        for q in quantiles:
            r = exact_rank(n, q)
            out.append([gv, q, r, float(x[s + r - 1])])
    return out


def _gen_quantiles(rng: np.random.Generator, out: str) -> dict:
    # skewed group sizes from a fixed Zipf profile, so that every seed needs
    # the same number of narrowing rounds; only which group is large varies
    weights = rng.permutation(1.0 / np.arange(1, GROUPS + 1) ** ZIPF_S)
    g = rng.choice(GROUPS, size=QROWS, p=weights / weights.sum()).astype(np.int64)
    x = rng.lognormal(mean=3.0, sigma=2.0, size=QROWS)  # heavy-tailed, finite
    dup_groups = rng.choice(GROUPS, size=int(GROUPS * DUP_GROUP_SHARE), replace=False)
    dup = np.isin(g, dup_groups)
    x[dup] = np.round(rng.integers(1, 6, size=int(dup.sum())) * 2.5, 1)
    x_null = rng.random(QROWS) < NULL_SHARE
    g_null = rng.random(QROWS) < NULL_SHARE / 5
    pq.write_table(
        pa.table({"grp": pa.array(g, mask=g_null), "val": pa.array(x, mask=x_null)}),
        os.path.join(out, "values.parquet"))
    gf = np.where(g_null, np.nan, g.astype(float))
    xf = np.where(x_null, np.nan, x)
    return {
        "files": ["values.parquet"],
        "expected": {"quantiles": quantiles_reference(gf, xf, QUANTILES)},
        "input_rows": QROWS,
        "properties": {
            "rows": QROWS,
            "groups": GROUPS,
            "group_size_zipf_s": ZIPF_S,
            "duplicate_group_share": DUP_GROUP_SHARE,
            "null_share": NULL_SHARE,
            "quantiles": QUANTILES,
            "local_threshold": LOCAL_THRESHOLD,
            "value_distribution": "lognormal(3, 2); NaN/inf excluded",
        },
    }


def _gen_iterative(rng: np.random.Generator, out: str) -> dict:
    g, q = _gen_graph_fixpoint(rng, out), _gen_quantiles(rng, out)
    return {
        "files": g["files"] + q["files"],
        "expected": {**g["expected"], **q["expected"]},
        "input_rows": g["input_rows"] + q["input_rows"],
        "properties": {"graph": g["properties"], "quantiles": q["properties"]},
    }


_GENERATORS = {"graph_load": _gen_graph_load, "iterative": _gen_iterative}


def generate(kind: str, seed: int, out: str) -> dict:
    """Write the ``kind`` input for ``seed`` into ``out``; return its meta."""
    os.makedirs(out, exist_ok=True)
    meta = _GENERATORS[kind](_rng(kind, seed), out)
    meta.update(kind=kind, seed=seed)
    return meta


def cached_inputs(workload: str, seed: int, work_dir: str) -> tuple[str, dict]:
    """(input directory, meta) for ``workload`` at ``seed``, generating
    them on the first call. The directory appears only once complete."""
    kind = INPUT_KIND[workload]
    final = os.path.join(work_dir, "inputs", f"{kind}-{seed}")
    meta_path = os.path.join(final, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        meta = generate(kind, seed, tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        try:
            os.rename(tmp, final)
        except OSError:  # another process finished the same seed first
            shutil.rmtree(tmp, ignore_errors=True)
    with open(meta_path) as f:
        return final, json.load(f)
