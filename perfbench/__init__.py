"""Benchmark of the engine: see README.md; entry point run.py."""
