"""Metric names and units every run reports, and the per-run result."""

from __future__ import annotations

from dataclasses import dataclass, field

# end-to-end metrics shared by every workload, and their units
E2E_UNITS = {
    "setup_s": "s",
    "latency_ms": "ms",
    "throughput_per_s": "1/s",
}

# per-layer metrics every traced run reports (0 where a layer does no
# work on that workload)
LAYER_UNITS = {
    "session.start_s": "s",
    "mem.peak_rss_mb": "MB",
    "mem.heap_committed_mb": "MB",
    "mem.live_heap_mb": "MB",
    "pipeline.trigger_ms": "ms",
    "pipeline.overhead_ms": "ms",
    "pipeline.jobs_per_batch": "count",
    "lake.explode_ms": "ms",
    "silver.merge_ms": "ms",
    "silver.merges_per_batch": "count",
    "silver.touched_buckets": "count",
    "silver.rewrite_ratio": "ratio",
    "silver.bytes_written_per_row": "B",
    "silver.files_per_batch": "count",
    "silver.open_ms": "ms",
    "silver.files_per_open": "count",
    "endpoints.plan_ms": "ms",
    "endpoints.point_exec_ms": "ms",
    "endpoints.page_exec_ms": "ms",
    "endpoints.agg_exec_ms": "ms",
    "endpoints.point_p50_ms": "ms",
    "endpoints.page_p50_ms": "ms",
    "endpoints.agg_p50_ms": "ms",
    "endpoints.rows_scanned_per_row": "ratio",
    "domain.price_ms": "ms",
    "domain.account_stats_ms": "ms",
    "domain.pot_stats_ms": "ms",
    "domain.stats_ms": "ms",
    "domain.leaderboard_ms": "ms",
    "domain.beat_ms": "ms",
    "spark.task_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.task_wait_ms": "ms",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "trace.latency_ms": "ms",
    "trace.overhead_ms": "ms",
    "trace.instrument_ms": "ms",
    "checks.failed": "count",
}


@dataclass
class Result:
    """What a workload measured: set-up time, end-to-end and per-layer
    values (the latter filled only in a traced run), and its checks."""

    setup_s: float = 0.0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
