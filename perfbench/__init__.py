"""Benchmark of the python_vegindex_spark engine; see run.py."""
