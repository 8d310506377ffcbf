"""Benchmark harness for sparkclif; see README.md in this directory."""
