"""Benchmark for the apsviz timeseries ingest engine: seeded harvest
generator, pure-Python oracle, workloads and the traced-run harness.
Entry point: ``python3 tsdbbench/run.py --help``."""
