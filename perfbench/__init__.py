"""Tiling-engine benchmark: four workloads, end-to-end and per-layer
metrics, independent output checks. Entry point: ``perfbench/run.py``;
see ``perfbench/README.md``."""
