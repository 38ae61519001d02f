"""Benchmark of the lakehouse engine: three seeded closed-loop workloads
with end-to-end and per-layer metrics. Entry point: ``perfbench/run.py``."""
