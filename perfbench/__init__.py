"""Seeded, oracle-checked benchmark of the engine's three jobs.

``python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1``
runs one workload in its own process and prints one JSON result line.
See ``perfbench/README.md`` for the workloads and the metrics.
"""
