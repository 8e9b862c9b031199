"""Partition balance metric for checkpoint manifests.

Per-superstep shuffle bytes come from ``plans/superstep.py``, which reads
Spark's app-status store once per step.
"""

from __future__ import annotations


def skew_factor(partition_rows: list[int]) -> float:
    """max/mean partition row count — 1.0 is perfectly balanced (the
    reference's edge-balanced blocks, `src/webgraph.c:957-1005`)."""
    if not partition_rows:
        return 1.0
    mean = sum(partition_rows) / len(partition_rows)
    return max(partition_rows) / mean if mean > 0 else 1.0
