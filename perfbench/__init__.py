"""Benchmark for the spark-graft job layer; see run.py."""
