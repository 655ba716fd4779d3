"""Benchmark for the spark-graft engine; run it with ``python3 perfbench/run.py``."""
