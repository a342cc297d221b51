"""Benchmark-owned Arrow Flight server standing in for the GDS importer.

Run as ``python3 perfbench/flight_server.py``: it binds 127.0.0.1 on an
OS-assigned port, prints the port as its first line of output and serves
until its standard input closes or it is terminated.

It accepts ``do_put`` streams whose descriptor path is
``[kind, element, tag]`` and the GDS lifecycle actions, and records for the
output checks, in arrival order:

- per put: kind, element, tag, rows, key sums and its own receive time;
- per action: its type, in sequence with the puts.

Two actions of its own serve the benchmark: ``bench/reset`` clears the
record before a run and ``bench/stats`` returns it as JSON.
"""

from __future__ import annotations

import json
import sys
import threading
import time

import pyarrow.compute as pc
import pyarrow.flight as flight

#: Key columns per put kind, summed on arrival for the output checks.
KEY_COLUMNS = {"node": ("nodeId",), "edge": ("sourceNodeId", "targetNodeId")}


def _key_sum(table, col: str) -> int:
    return int(pc.sum(table.column(col)).as_py() or 0)


class RecordingFlightServer(flight.FlightServerBase):
    def __init__(self, location: str = "grpc://127.0.0.1:0"):
        super().__init__(location)
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def do_put(self, context, descriptor, reader, writer):
        t0 = time.perf_counter()
        kind, element, tag = (p.decode() for p in descriptor.path)
        table = reader.read_all()
        sums = [_key_sum(table, c) for c in KEY_COLUMNS[kind]]
        recv_ms = (time.perf_counter() - t0) * 1e3
        with self._lock:
            self._events.append({
                "event": "put", "kind": kind, "element": element, "tag": tag,
                "rows": table.num_rows, "key_sums": sums, "recv_ms": recv_ms,
            })

    def do_action(self, context, action):
        if action.type == "bench/stats":
            with self._lock:
                return [json.dumps(self._events).encode()]
        with self._lock:
            if action.type == "bench/reset":
                self._events = []
            else:
                self._events.append({"event": "action", "type": action.type})
        return [b"{}"]


def main() -> None:
    server = RecordingFlightServer()
    print(server.port, flush=True)

    def stop_on_stdin_eof():
        sys.stdin.read()
        server.shutdown()

    threading.Thread(target=stop_on_stdin_eof, daemon=True).start()
    server.serve()


if __name__ == "__main__":
    main()
