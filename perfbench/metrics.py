"""Names and units of every metric the runner prints; the self-tests
hold ``BENCHMARK.json`` to these."""

from __future__ import annotations

# printed in the result line of an untraced run; none of them is ever 0
END_TO_END = {"wall_s": "s", "setup_s": "s", "bytes_written_mb": "MB", "files_written": "count"}

# also printed by an untraced run, on its own lines before the result:
# both are legitimately 0 (no failures; workloads that pin nothing), so
# they cannot be bounded as a share of their median
REPORTED = {"error_rate": "ratio", "cached_mb_peak": "MB"}

# name -> (unit, better)
PER_LAYER = {
    "error_rate": ("ratio", "lower"),
    "cached_mb_peak": ("MB", "lower"),
    "session.start_s": ("s", "lower"),
    "sources.load_table_calls": ("count", "lower"),
    "sources.load_table_s": ("s", "lower"),
    "sources.load_table_jobs": ("count", "lower"),
    "sources.write_calls": ("count", "lower"),
    "sources.write_s": ("s", "lower"),
    "sources.write_jobs": ("count", "lower"),
    "operators.build_s": ("s", "lower"),
    "operators.build_jobs": ("count", "lower"),
    "operators.etl.build_s": ("s", "lower"),
    "operators.scd.build_s": ("s", "lower"),
    "operators.ml.build_s": ("s", "lower"),
    "operators.dedup.build_s": ("s", "lower"),
    "operators.similarity.build_s": ("s", "lower"),
    "plans.build_s": ("s", "lower"),
    "streaming.build_s": ("s", "lower"),
    "exec.exec_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "cachereg.memo_calls": ("count", "lower"),
    "cachereg.memo_hits": ("count", "higher"),
    "cachereg.hit_ratio": ("ratio", "higher"),
    "cachereg.memo_build_s": ("s", "lower"),
    "cachereg.memo_jobs": ("count", "lower"),
    "cachereg.entries_peak": ("count", "lower"),
    "streaming.queries": ("count", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.input_rows": ("count", "lower"),
    "streaming.trigger_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "spark.task_run_s": ("s", "lower"),
    "spark.task_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.core_busy_ratio": ("ratio", "higher"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "trace.wall_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.unaccounted_s": ("s", "lower"),
}
