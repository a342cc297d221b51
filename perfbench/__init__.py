"""Layered benchmark of the graph-load path and the iterative operators.

Run one workload with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; the workloads and metrics are declared in
``BENCHMARK.json`` at the repository root.
"""
