"""Benchmark of similaripy_spark: workloads, tracing and output checks."""
