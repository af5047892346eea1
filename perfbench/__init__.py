"""Standalone benchmark of the engine: seeded workloads, correctness
gates, a traced mode and per-layer metrics from Spark's status stores.
See ``perfbench/README.md``."""
