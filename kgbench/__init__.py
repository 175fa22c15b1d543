"""Benchmark of the KG build path (see run.py)."""
