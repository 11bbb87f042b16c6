"""The repository benchmark: three seeded workloads and a traced per-layer run.

Run it with ``python3 perfbench/run.py``; ``perfbench/README.md`` describes
the workloads, the metrics and how to read them.
"""
