"""Benchmark for geokitten_spark: seeded workloads, end-to-end and per-layer metrics."""
