"""Seeded benchmark of the engine: four workloads, end-to-end metrics, and
a traced per-layer split. Entry point: perfbench/run.py."""
