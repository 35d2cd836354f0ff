"""Benchmark of the validation engine (see README.md)."""
