"""Benchmark of the CDC lake engine (see README.md)."""
