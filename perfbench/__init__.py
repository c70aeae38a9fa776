"""Benchmark of the CDC engine: see perfbench/README.md."""
