"""Benchmark of the gliner_spark pipeline and graph operators (see README.md)."""
