"""Workload registry and the metric names every run reports.

Every workload reports every end-to-end metric; README.md has what
each slot (``primary_s``, ``secondary_s``, ...) means per workload and
which end-to-end metric each per-layer metric should move.
"""

from __future__ import annotations

import analyst
import medallion

WORKLOADS = {"analyst_stream": analyst, "medallion_daily": medallion}

E2E_METRICS = {
    "setup_s": "s",
    "primary_s": "s",
    "secondary_s": "s",
    "throughput_per_s": "1/s",
    "bytes_per_input_byte": "ratio",
}

_LAYER_METRICS = {
    "latency.p50_s": "s",
    "latency.tail_s": "s",
    "mem.peak_rss_mb": "MB",
    "session.start_s": "s",
    "catalog.load_s": "s",
    "catalog.load_jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_share": "ratio",
    "planner.plan_s": "s",
    **{f"{half}.{k}": "s" for half in ("build_heavy", "exec_heavy")
       for k in ("build_s", "plan_s", "exec_s")},
    "build_heavy.build_share": "ratio",
    "exec_heavy.build_share": "ratio",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.persisted_blocks_after": "count",
    "medallion.bronze_s": "s",
    "medallion.silver_s": "s",
    "medallion.gold_dim_s": "s",
    "medallion.dq_s": "s",
    "medallion.jobs": "count",
    "medallion.rows_new": "count",
    "medallion.rows_written": "count",
    "medallion.rewrite_ratio": "ratio",
    "delta.merge_s": "s",
    "delta.files_added": "count",
    "delta.files_removed": "count",
    "delta.bytes_added": "bytes",
    "delta.touched_frac": "ratio",
    "delta.read_s": "s",
    "delta.files_planned": "count",
    "delta.files_live": "count",
    "delta.log_versions": "count",
    "quality.jobs": "count",
    "eventlog.append_s": "s",
    "eventlog.backlog_segments": "count",
    "eventlog.generator_late_s": "s",
    "stream.startup_s": "s",
    "stream.drain_batches": "count",
    "stream.batch_s": "s",
    "stream.add_batch_s": "s",
    "stream.batch_rows": "count",
    "stream.batches": "count",
    "stream.state_rows": "count",
    "stream.state_bytes": "bytes",
    "stream.sink_s": "s",
}

# Self time per layer: span names are ``<layer>.<call>``.
_SELF_LAYERS = (
    "bench", "session", "setup", "catalog", "queries", "planner", "exec",
    "medallion", "delta", "quality", "eventlog", "stream", "check",
)

TRACE_METRICS = {
    **_LAYER_METRICS,
    **{f"self.{layer}_s": "s" for layer in _SELF_LAYERS},
    "trace.spans": "count",
    "trace.bookkeeping_s": "s",
    **{f"traced.{name}": unit for name, unit in E2E_METRICS.items()},
}
