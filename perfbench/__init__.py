"""Benchmark for the matano_spark engine (see README.md)."""
