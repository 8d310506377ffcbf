"""The metric catalogue: every name the benchmark prints, with its unit.
``BENCHMARK.json`` lists the same names (the self-tests check that)."""

from __future__ import annotations

OPERATOR_MODULES = (
    "asof", "corpus", "dedup", "expr", "graph", "hashing", "kmeans",
    "multimodal", "quantize", "rangejoin", "rank", "sampling", "sequence",
    "similarity", "sketch", "text", "timeseries",
)
QUERY_FAMILIES = ("scan", "filter", "join", "agg", "window", "setop", "scalar", "udf", "llm")

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "ops_per_s": "1/s",
}

PER_LAYER = {
    "clif.jobs_per_cmd": "count",
    "clif.tasks_per_cmd": "count",
    "clif.status_write_ms": "ms",
    "clif.dashboard_ms": "ms",
    "clif.poc_ms": "ms",
    "clif.mcide_list_ms": "ms",
    "clif.mcide_append_ms": "ms",
    "clif.status_read_tasks_at_depth.1": "count",
    "clif.status_read_tasks_at_depth.max": "count",
    "clif.apply_log_ms": "ms",
    "clif.extract_metadata_ms": "ms",
    "queries.build_ms": "ms",
    **{f"operators.build_ms.{m}": "ms" for m in OPERATOR_MODULES},
    **{f"queries.exec_ms.{f}": "ms" for f in QUERY_FAMILIES},
    "queries.jobs_per_op": "count",
    "queries.stages_per_op": "count",
    "queries.tasks_per_op": "count",
    "io.table_ms": "ms",
    "streaming.run_ms": "ms",
    "streaming.jobs_per_op": "count",
    "streaming.scratch_bytes_per_op": "bytes",
    "queries.cached_rdds_after_op": "count",
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "proc.peak_rss_mb": "MB",
    "proc.cpu_ms_per_op": "ms",
    "drift.op_p50_ratio": "ratio",
    "trace.overhead_pct": "%",
}
