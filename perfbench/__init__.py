"""Benchmark for data_ingestors_spark: see README.md."""
