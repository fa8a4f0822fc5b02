"""Lakehouse benchmark harness; see perfbench/METRICS.md."""
