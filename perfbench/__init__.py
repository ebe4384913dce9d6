"""Seeded, self-checking benchmark of the feature CLI and the query surface
(entry point: perfbench/run.py)."""
