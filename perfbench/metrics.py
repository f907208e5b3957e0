"""Metric names and units: the single list the runner prints and the
self-test compares against BENCHMARK.json."""

from __future__ import annotations

# Printed by every untraced run, whatever the workload. One op is a backtest
# request or an ingested symbol-day; one item is a request or a bar.
END_TO_END = {
    "setup_s": "s",
    "p50_s": "s",
    "items_per_s": "1/s",
}

# Printed by every traced run. A layer the workload leaves idle reads 0.
PER_LAYER = {
    "session.floor_s": "s",
    "trace.overhead_s": "s",
    "spark.failed_tasks": "count",
    # backtest
    "provider.plan_s": "s",
    "lake.plan_s": "s",
    "lake.scan_s": "s",
    "lake.files_scanned": "count",
    "resample.self_s": "s",
    "resample.jobs": "count",
    "asof.self_s": "s",
    "asof.jobs": "count",
    "asof.shuffle_bytes": "bytes",
    "levels.self_s": "s",
    "levels.jobs": "count",
    "collect.to_pandas_s": "s",
    "backtest.jobs_per_op": "count",
    # ingest (lake.plan_s and lake.scan_s are measured on both workloads)
    "ingest.to_spark_s": "s",
    "writer.upsert_s": "s",
    "writer.jobs": "count",
    "writer.files_written": "count",
    "writer.bytes_written": "bytes",
    "writer.rows_rewritten_per_row": "rows/row",
    "qc.self_s": "s",
}
