"""Benchmark harness for kaer_spark; run it with ``python3 perfbench/run.py``."""
