"""Benchmark runner for the graft engine: builds it, generates each
workload's inputs from a seed, runs the harness JVM, checks outputs
against DuckDB and prints the metrics. Entry point: ``perfbench/run.py``.
"""
