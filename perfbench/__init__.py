"""Benchmark for lanterndb_spark (see README.md)."""
