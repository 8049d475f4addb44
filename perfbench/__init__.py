"""Benchmark of the spark-graft engine; entry point: ``perfbench/run.py``."""
