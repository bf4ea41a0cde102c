"""Benchmark of the cie_spark engine: workloads, tracing and checks.
Entry point: perfbench/run.py; see perfbench/README.md."""
