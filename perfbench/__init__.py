"""Benchmark for the CDC ingest engine: see README.md."""
