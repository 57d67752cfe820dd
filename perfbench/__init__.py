"""Benchmark of logpipe_spark: see perfbench/README.md."""
