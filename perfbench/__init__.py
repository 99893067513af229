"""Benchmark harness; see README.md."""
