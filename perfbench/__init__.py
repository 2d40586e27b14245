"""Benchmark of the catalog; entry point: perfbench/run.py."""
