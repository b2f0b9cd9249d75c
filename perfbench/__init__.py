"""Benchmark for the selium_spark engine; see README.md."""
