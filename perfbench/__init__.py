"""Benchmark of record for stackoverflowner_spark (see perfbench/README.md)."""
