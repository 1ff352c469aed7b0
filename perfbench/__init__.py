"""Tick-store benchmark: workloads, expected results and per-layer tracing.

Run a workload with ``python3 perfbench/run.py --workload ticks --seed 1
--seconds 10 --trace 0`` from the root of the repository.
"""
