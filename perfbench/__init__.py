"""Benchmark of the document dataflow: three seeded workloads, end-to-end
metrics, a per-layer ledger and a traced run.  Entry point: ``run.py``."""
