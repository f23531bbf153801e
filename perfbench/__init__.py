"""Benchmark of paraocr_spark: workloads, per-layer trace, checks."""
