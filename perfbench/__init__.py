"""Benchmark of the engine; see README.md."""
