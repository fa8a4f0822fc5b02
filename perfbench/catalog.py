"""The workloads and query shapes the harness iterates, and the metrics it
may emit.

Every metric's name, unit, direction and bound is declared once, in
``BENCHMARK.json``, and loaded from there; the harness refuses to emit a
name it does not declare. Which layer each metric belongs to and which
end-to-end metric it should move, on which workload, is set out in
``perfbench/METRICS.md``.
"""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)

WORKLOADS = tuple(w["name"] for w in _BENCH["workloads"])
END_TO_END = {m["name"]: m for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m for m in _BENCH["per_layer"]}
UNITS = {name: m["unit"] for name, m in (END_TO_END | PER_LAYER).items()}

RAW_SHAPES = (
    "orders_by_status",
    "monthly_revenue",
    "high_value_orders",
    "unique_customers",
    "pricing_summary",
    "segment_lineitem_revenue",
    "revenue_by_nation",
    "daily_active_users",
)
TIER_SHAPES = ("silver_status", "gold_status")
ANALYTICS_SHAPES = RAW_SHAPES + TIER_SHAPES
CORPUS_SHAPES = ("corpus_build_pipeline", "semantic_dedup_cascade_stats")
REFRESH_SHAPES = ("refresh_gold_query",)
QUERY_SHAPES = ANALYTICS_SHAPES + CORPUS_SHAPES + REFRESH_SHAPES

# Units of the named figures on every run's ``report`` line.
NAMED_UNITS = {
    "op_s": "s",
    "setup_s": "s",
    "warmup_s": "s",
    "check_s": "s",
    "peak_rss_mb": "MB",
    "failed_ops_frac": "ratio",
    "snapshot_load_s": "s",
    "refresh_s": "s",
    "cycles": "count",
    "bytes_stored_per_live_byte": "ratio",
    "raw_query_p50_ms": "ms",
    "silver_query_p50_ms": "ms",
    "gold_query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "query_tail_pct": "%",
    "query_tail_samples": "count",
    "queries_per_s": "1/s",
    "corpus_build_s": "s",
    "semdedup_s": "s",
}
