"""Metric names and units the benchmark reports (BENCHMARK.json lists the
same names; a test keeps the two in step)."""

from __future__ import annotations

# end-to-end: every workload reports every one of these (tracing off)
END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "msgs_per_s": "1/s",
    "docs_per_s": "1/s",
    "batch_latency_p50_s": "s",
    "peak_rss_mb": "MB",
}

# per-layer: every workload reports every one of these (traced run);
# a layer the workload leaves idle reads 0
PER_LAYER = {
    "fbs.decode_s": "s",
    "fbs.msgs": "count",
    "fbs.payload_mb": "MB",
    "fbs.invalid": "count",
    "plan.build_s": "s",
    "plan.streams": "count",
    "operators.window_s": "s",
    "operators.rows_in": "count",
    "operators.rows_windowed": "count",
    "operators.rows_buffered": "count",
    "operators.rows_repeated_dropped": "count",
    "runner.run_job_s": "s",
    "runner.self_s": "s",
    "modules.aggregates_s": "s",
    "modules.rows_out": "count",
    "sinks.staging.write_s": "s",
    "sinks.staging.calls": "count",
    "sinks.staging.files": "count",
    "sinks.staging.mb": "MB",
    "sinks.hdf5.pack_s": "s",
    "sinks.hdf5.datasets": "count",
    "sinks.hdf5.file_mb": "MB",
    "sinks.hdf5.snapshot_p50_s": "s",
    "sinks.hdf5.snapshot_sum_s": "s",
    "sinks.hdf5.snapshots": "count",
    "sinks.hdf5.backend_h5py": "flag",
    "streaming.job.process_batch_s": "s",
    "streaming.job.finalize_s": "s",
    "streaming.job.batches": "count",
    "streaming.job.spark_jobs_per_batch": "count",
    "streaming.progress.addBatch_ms": "ms",
    "streaming.progress.getBatch_ms": "ms",
    "streaming.progress.latestOffset_ms": "ms",
    "streaming.progress.queryPlanning_ms": "ms",
    "streaming.progress.walCommit_ms": "ms",
    "streaming.stateful.admit_and_fold_s": "s",
    "streaming.stateful.spark_jobs_per_batch": "count",
    "streaming.stateful.admitted": "count",
    "streaming.stateful.exact_dup": "count",
    "streaming.stateful.near_dup": "count",
    "streaming.stateful.quota": "count",
    "streaming.stateful.admit_ratio": "ratio",
    "llm.dedup.write_bloom_layout_s": "s",
    "llm.dedup.write_neardup_banding_layout_s": "s",
    "llm.dedup.layout_mb": "MB",
    "llm.similarity.train_s": "s",
    "llm.similarity.write_layout_s": "s",
    "llm.similarity.probe_s": "s",
    "llm.similarity.rows_scanned_per_query": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.slot_utilization": "ratio",
    "trace.overhead_s": "s",
}


def render(values: dict, units: dict) -> dict:
    """{name: {"value", "unit"}} for every name in ``units``; a name the
    workload did not measure (an idle layer) reads 0."""
    return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}
