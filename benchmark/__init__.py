"""Seeded closed-loop benchmark of sec_dl_spark: workloads, generators and
the outside-in per-layer collector. Entry point: ``benchmark/run.py``."""
