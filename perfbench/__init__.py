"""Benchmark of libmr_spark: see README.md."""
