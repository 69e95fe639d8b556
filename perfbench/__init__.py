"""Benchmark for the gtec_etl_spark engine: four workloads, end-to-end and
per-layer metrics. Entry point: perfbench/run.py; see perfbench/README.md."""
