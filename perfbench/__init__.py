"""Benchmark of the lakehouse engine: workloads, metrics and checks
(entry point: ``perfbench/run.py``)."""
