"""Benchmark for the PySpark warehouse; run ``python3 perfbench/run.py --help``."""
