"""Every metric the benchmark prints: name, unit and direction.

``END_TO_END`` is what an untraced run reports (``--trace 0``) and
``PER_LAYER`` what a traced run reports (``--trace 1``). BENCHMARK.json
at the repository root lists the same names; ``run.py --selfcheck``
asserts that the two agree.
"""

from __future__ import annotations

from layers import OPERATOR_MODULES

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("cpu_s_per_query", "s", "lower"),
    ("queries_per_s", "1/s", "higher"),
    ("query_p50_s", "s", "lower"),
]

# Printed in the untraced report but not part of the result line:
# they do not exist on every workload, read 0 when healthy, or spread
# too widely between runs to gate on (the tail of seven or two
# operations is their maximum; peak RSS follows the JVM's heap sizing).
# README.md gives the measured spreads.
REPORTED = [
    ("query_tail_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("rows_per_s", "rows/s", "higher"),        # streams
    ("batch_p50_s", "s", "lower"),             # streams
    ("batch_growth", "ratio", "lower"),        # streams
    ("write_amp", "ratio", "lower"),           # sensor_scd2_stream
    ("error_rate", "fraction", "lower"),       # all
]

PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("sources.load_table.calls", "count"),
    ("sources.load_table.s", "s"),
    ("sources.load_table.jobs", "count"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    *[(f"operators.{m}.{k}", u) for m in OPERATOR_MODULES
      for k, u in (("s", "s"), ("jobs", "count"))],
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.task_run_s", "s"),
    ("exec.task_cpu_s", "s"),
    ("exec.python_s", "s"),
    ("exec.shuffle_read_mb", "MB"),
    ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("exec.core_util", "ratio"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("jvm.gc_s", "s"),
    ("jvm.gc_count", "count"),
    ("jvm.code_cache_mb", "MB"),
    ("stream.trigger_s", "s"),
    ("stream.add_batch_s", "s"),
    ("stream.query_planning_s", "s"),
    ("stream.wal_commit_s", "s"),
    ("stream.commit_offsets_s", "s"),
    ("stream.latest_offset_s", "s"),
    ("stream.get_batch_s", "s"),
    ("stream.source_reads_per_row", "ratio"),
    ("historize.sink_s", "s"),
    ("txlog.apply_s", "s"),
    ("txlog.read_table_s", "s"),
    ("scd2.detect_delta_s", "s"),
    ("scd2.apply_s", "s"),
    ("txlog.commits", "count"),
    ("txlog.buckets_rewritten", "count"),
    ("txlog.files_written", "count"),
    ("txlog.bytes_written_mb", "MB"),
    ("txlog.useful_row_ratio", "ratio"),
    ("dedup_stream.sink_s", "s"),
    ("dedup_stream.pairs_s", "s"),
    ("dedup_stream.signature_s", "s"),
    ("dedup_stream.state_mb", "MB"),
    ("dedup_stream.pairs", "count"),
    ("untraced_s", "s"),
    ("trace.wall_s", "s"),
    ("trace.overhead_s", "s"),
]
