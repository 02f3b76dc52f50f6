"""Metric names, units and directions. ``BENCHMARK.json`` lists the same
metrics (a test keeps the two in step)."""

from __future__ import annotations

# name -> (unit, better). Every workload reports every end-to-end metric
# with tracing off; each workload's repeated operation and bulk pass are
# named in METRICS.md. Times are net of hypervisor steal
# (trace.net_of_steal).
END_TO_END = {
    "setup_s": ("s", "lower"),
    "bulk_s": ("s", "lower"),
    "op_s_p50": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
}

# Every traced run reports every per-layer metric; a layer the workload
# does not reach reports 0 (only end-to-end metrics must never be 0).
PER_LAYER = {
    "sources.search_requests": ("count", "lower"),
    "sources.replay_requests": ("count", "lower"),
    "sources.replay_errors": ("count", "lower"),
    "sources.replay_ok_ratio": ("ratio", "higher"),
    "jobs.pipeline.discover_s": ("s", "lower"),
    "jobs.pipeline.download_s": ("s", "lower"),
    "jobs.pipeline.retry_s": ("s", "lower"),
    "jobs.pipeline.compact_s": ("s", "lower"),
    "jobs.pipeline.download_work_rows": ("count", "lower"),
    "jobs.pipeline.compact_dates_touched": ("count", "lower"),
    "jobs.lake.insert_new_s": ("s", "lower"),
    "jobs.lake.patch_s": ("s", "lower"),
    "jobs.lake.patch_calls": ("count", "lower"),
    "jobs.lake.metadata_bytes_written_per_replay": ("B", "lower"),
    "jobs.lake.raw_bytes_written_per_replay": ("B", "lower"),
    "jobs.lake.compacted_bytes_written_per_replay": ("B", "lower"),
    "jobs.lake.files_written_per_day": ("count", "lower"),
    "jobs.battlelog_lake.build_s": ("s", "lower"),
    "jobs.battlelog_lake.bytes_per_replay": ("B", "lower"),
    "jobs.battlelog_lake.files": ("count", "lower"),
    **{f"plans.battlelog.b{i}_s_p50": ("s", "lower") for i in range(1, 9)},
    "plans.relational.query_s_p50": ("s", "lower"),
    "spark.exchanges_per_query": ("count", "lower"),
    "spark.input_bytes_per_query": ("B", "lower"),
    "jobs.curate.curate_s": ("s", "lower"),
    "jobs.curate.exact_dup_drop_share": ("ratio", "higher"),
    "jobs.curate.near_dup_drop_share": ("ratio", "higher"),
    "jobs.doc_signature_lake.admit_s": ("s", "lower"),
    "jobs.doc_signature_lake.jobs_per_batch": ("count", "lower"),
    "jobs.doc_signature_lake.bytes_written_per_accepted_doc": ("B", "lower"),
    "jobs.doc_signature_lake.accept_ratio": ("ratio", "higher"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.shuffle_write_bytes_per_op": ("B", "lower"),
    "spark.spill_bytes_per_op": ("B", "lower"),
    "spark.cpu_busy_share": ("ratio", "higher"),
    "proc.peak_pss_mb": ("MB", "lower"),
    "trace.op_s_p50": ("s", "lower"),
    "trace.bulk_s": ("s", "lower"),
    "trace.bookkeeping_s_per_op": ("s", "lower"),
}
