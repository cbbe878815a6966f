"""Benchmark for the spark-kg engine; entry point: perfbench/run.py."""
