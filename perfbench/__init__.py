"""Benchmark of the transcript validator's public entry points (see README.md)."""
