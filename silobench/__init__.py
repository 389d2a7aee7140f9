"""Benchmark of the lapis_silo_spark engine; see README.md."""
