"""Benchmark of the reverse-ETL engine; entry point ``perfbench/run.py``."""
