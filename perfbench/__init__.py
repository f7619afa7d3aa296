"""Benchmark of graphframes_spark: see run.py."""
