"""Benchmark for the archive engine: see README.md."""
