"""Benchmark harness for the near-duplicate engine (see README.md)."""
