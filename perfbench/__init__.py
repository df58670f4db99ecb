"""Benchmark for binaryvectordb_spark: seeded workloads run against the
public API, end-to-end metrics, and an optional traced run for per-layer
numbers.  Entry point: ``python3 perfbench/run.py --workload NAME``."""
