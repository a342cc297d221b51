"""Tests of the benchmark itself: the generator is deterministic per seed,
and every output check passes a correct output and rejects a seeded fault.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
None of them starts Spark.
"""

import copy
import json
import os
import threading

import numpy as np
import pyarrow as pa
import pyarrow.flight as flight
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen
from perfbench.flight_server import RecordingFlightServer


@pytest.fixture(scope="module")
def load_input(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("graph_load"))
    return out, gen.generate("graph_load", 7, out)


@pytest.fixture(scope="module")
def iterative_input(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("iterative"))
    return out, gen.generate("iterative", 7, out)


# -- generator -------------------------------------------------------------
@pytest.mark.parametrize("kind", sorted(set(gen.INPUT_KIND.values())))
def test_generator_is_deterministic_per_seed(tmp_path, kind):
    metas, tables = [], []
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        out = str(tmp_path / name)
        meta = gen.generate(kind, seed, out)
        metas.append(json.dumps({k: v for k, v in meta.items() if k != "seed"}))
        tables.append({f: pq.read_table(os.path.join(out, f)) for f in meta["files"]})
    assert metas[0] == metas[1]
    assert tables[0].keys() == tables[1].keys()
    assert all(tables[0][f].equals(tables[1][f]) for f in tables[0])
    assert metas[0] != metas[2] or any(not tables[0][f].equals(tables[2][f])
                                       for f in tables[0])


def test_cached_inputs_generate_once(tmp_path):
    d1, m1 = gen.cached_inputs("load_flight", 5, str(tmp_path))
    stamp = os.path.getmtime(os.path.join(d1, "meta.json"))
    d2, m2 = gen.cached_inputs("load_parquet", 5, str(tmp_path))  # same input kind
    assert (d1, m1) == (d2, m2)
    assert os.path.getmtime(os.path.join(d2, "meta.json")) == stamp


def test_references_on_a_hand_checked_graph():
    ids = np.array([1, 2, 3, 4, 5, 9])
    edges = np.array([[2, 1], [3, 2], [5, 4]])
    assert gen.union_find_labels(ids, edges) == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 9: 9}
    # one iteration: N=6, base=(15·1000//100)//6=25, r0=1000//6=166
    pr = gen.pagerank_reference(ids, edges, iters=1, scale=1000)
    assert pr == {1: 25 + 85 * 166 // 100, 2: 25 + 85 * 166 // 100, 3: 25,
                  4: 25 + 85 * 166 // 100, 5: 25, 9: 25}
    g = np.array([0, 0, 0, 0, 1, np.nan])
    x = np.array([4.0, 1.0, np.nan, 3.0, 7.0, 2.0])
    assert gen.quantiles_reference(g, x, [0.5, 1.0]) == [
        [0, 0.5, 2, 3.0], [0, 1.0, 3, 4.0], [1, 0.5, 1, 7.0], [1, 1.0, 1, 7.0]]


# -- Flight ----------------------------------------------------------------
def _element_tables(input_dir, meta):
    """(kind, element, table) per generated element, projected as the
    pipeline would project it (only the key columns matter here)."""
    out = []
    for kind, key in (("node", "nodes"), ("edge", "edges")):
        for e in meta["expected"][key]:
            files = sorted(f for f in meta["files"] if f.startswith(f"{key}_{e['element']}_"))
            t = pa.concat_tables(pq.read_table(os.path.join(input_dir, f)) for f in files)
            if kind == "node":
                t = pa.table({"nodeId": t.column("id")})
            else:
                t = pa.table({"sourceNodeId": t.column("src"),
                              "targetNodeId": t.column("dst")})
            out.append((kind, e["element"], t))
    return out


@pytest.fixture(scope="module")
def server():
    s = RecordingFlightServer()
    t = threading.Thread(target=s.serve, daemon=True)
    t.start()
    yield s
    s.shutdown()
    t.join(timeout=10)
    assert not t.is_alive()


def _load(server, tables, fault=None):
    """Replay one load against the server and return what it recorded.
    ``fault`` is "drop", "duplicate" or "late_node" (a node put after
    NODE_LOAD_DONE)."""
    client = flight.connect(f"grpc://127.0.0.1:{server.port}")

    def action(t):
        list(client.do_action(flight.Action(t, b"{}")))

    def put(kind, element, tag, table):
        desc = flight.FlightDescriptor.for_path(kind, element, tag)
        writer, _ = client.do_put(desc, table.schema)
        writer.write_table(table)
        writer.close()

    action("bench/reset")
    action(checks.CREATE_GRAPH)
    late = []
    for kind in ("node", "edge"):
        for i, (k, element, table) in enumerate(t for t in tables if t[0] == kind):
            halves = [table.slice(0, table.num_rows // 2), table.slice(table.num_rows // 2)]
            for j, part in enumerate(halves):
                if fault == "drop" and i == 0 and j == 1:
                    continue
                if fault == "late_node" and kind == "node" and i == 0 and j == 1:
                    late.append((kind, element, f"p{j}-a0-0", part))
                    continue
                put(kind, element, f"p{j}-a0-0", part)
                if fault == "duplicate" and kind == "edge" and i == 0 and j == 0:
                    put(kind, element, f"p{j}-a0-0", part)
        action(checks.NODES_DONE if kind == "node" else checks.EDGES_DONE)
        for p in late:
            put(*p)
        late = []
    events = json.loads(list(client.do_action(flight.Action("bench/stats", b"")))[0]
                        .body.to_pybytes())
    client.close()
    return events


def test_flight_check_passes_a_correct_load(server, load_input):
    input_dir, meta = load_input
    assert checks.check_flight_events(_load(server, _element_tables(input_dir, meta)),
                                      meta) == []


@pytest.mark.parametrize("fault", ["drop", "duplicate", "late_node"])
def test_flight_check_rejects_a_seeded_fault(server, load_input, fault):
    input_dir, meta = load_input
    errors = checks.check_flight_events(
        _load(server, _element_tables(input_dir, meta), fault), meta)
    assert errors, fault


def test_flight_check_rejects_out_of_order_actions(load_input):
    _, meta = load_input
    events = [{"event": "action", "type": t}
              for t in (checks.NODES_DONE, checks.CREATE_GRAPH, checks.EDGES_DONE)]
    assert checks.check_flight_events(events, meta)


# -- Parquet ---------------------------------------------------------------
def _write_export(out_dir, tables, drop_rows=0):
    idx = {"node": 0, "edge": 0}
    for kind, _, table in tables:
        d = os.path.join(out_dir, f"{kind}s", f"element_{idx[kind]:03d}")
        idx[kind] += 1
        os.makedirs(d)
        pq.write_table(table.slice(drop_rows), os.path.join(d, "part-0.parquet"))
        open(os.path.join(d, "_SUCCESS"), "w").close()


def test_parquet_check(tmp_path, load_input):
    input_dir, meta = load_input
    tables = _element_tables(input_dir, meta)
    _write_export(str(tmp_path / "good"), tables)
    assert checks.check_parquet_export(str(tmp_path / "good"), meta) == []
    _write_export(str(tmp_path / "short"), tables, drop_rows=1)
    assert checks.check_parquet_export(str(tmp_path / "short"), meta)
    assert checks.check_parquet_export(str(tmp_path / "missing"), meta)


# -- fixpoints and quantiles -----------------------------------------------
def test_label_checks_reject_a_wrong_label(iterative_input):
    _, meta = iterative_input
    for name in ("cc", "cc_incremental", "pagerank"):
        good = [list(p) for p in meta["expected"][name]]
        assert checks.check_pairs(name, good, meta["expected"][name]) == []
        bad = copy.deepcopy(good)
        bad[len(bad) // 2][1] += 1
        assert checks.check_pairs(name, bad, meta["expected"][name]), name
        assert checks.check_pairs(name, good[:-1], meta["expected"][name]), name
        assert checks.check_pairs(name, good + good[:1], meta["expected"][name]), name


def test_incremental_reference_merges_components(iterative_input):
    _, meta = iterative_input
    props = meta["properties"]["graph"]
    assert props["components_after_delta"] < props["components"]


def test_quantile_check_rejects_a_wrong_quantile(iterative_input):
    _, meta = iterative_input
    want = meta["expected"]["quantiles"]
    assert len({r[0] for r in want}) > 64  # the broadcast-joined state path
    assert checks.check_quantiles(list(reversed(want)), want) == []
    bad = copy.deepcopy(want)
    bad[3][3] = bad[3][3] * 1.0000001 + 1e-9
    assert checks.check_quantiles(bad, want)
    assert checks.check_quantiles(want[1:], want)
