"""Benchmark for the join library: seeded workloads, oracle-checked
results, end-to-end and per-layer metrics (see README.md)."""
