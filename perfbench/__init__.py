"""Benchmark for the ffp_spark KG-construction pipeline; see README.md."""
