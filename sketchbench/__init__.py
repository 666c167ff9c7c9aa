"""Benchmark of ddsketch_spark: see run.py."""
