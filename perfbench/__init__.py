"""Benchmark for the streaming warehouse: see README.md."""
