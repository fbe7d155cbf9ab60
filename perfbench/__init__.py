"""Benchmark of record for the cdc_spark engine (see README.md)."""
