"""Benchmark of the streaming consumer and the batch catalog (see README.md)."""
