"""Benchmark of the ingestion pipeline and query layers (see README.md)."""
