"""Benchmark harness for entwiner_spark; see README.md."""
