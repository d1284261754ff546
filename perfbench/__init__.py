"""End-to-end and per-layer benchmark of the readings engine.

Run one workload with ``python3 perfbench/run.py --workload <name> --seed
<n> --seconds <s> --trace <0|1>``; ``BENCHMARK.json`` at the repository
root lists the workloads and metrics.
"""
