"""Benchmark of the pleiades_spark services; see README.md."""
