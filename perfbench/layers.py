"""Per-layer measurement for the traced run.

``NullHooks`` is what the untraced run uses: it calls the program and
records nothing. ``TracedHooks`` wraps the public functions of each
layer with spans (spans.py), takes job and stage marks around them from
Spark's status stores (sparkstats.py) and turns both into the per-layer
metrics that catalog.PER_LAYER names.

Spans recorded:

- ``plans.build``: the registry callable ``queries()[k](spark, sf_dir)``;
- ``sources.load_table``;
- ``operators.<module>``: every public function of the hybrid-tier
  modules (OPERATOR_MODULES);
- ``exec``: the ``noop`` write of a registry key;
- ``historize.sink`` / ``dedup_stream.sink``: the ``foreachBatch``
  function of a stream, named after the module that built it;
- ``txlog.apply``, ``txlog.read_table``, ``scd2.detect_delta``,
  ``scd2.apply``: the public calls the SCD2 sink makes;
- ``dedup_stream.pairs`` / ``.signature`` / ``.docs``: the three parquet
  writes of the dedup sink (each one runs that part's Spark jobs).
"""

from __future__ import annotations

import importlib
import os
import time
from collections import defaultdict

from sparkstats import SparkStats, StageTotals
from spans import Tracer

OPERATOR_MODULES = ("graph", "ranking", "kmeans", "pq", "dedup", "textops", "curation")
SCD2_CALLS = (("operators.txlog", "apply_scd2_logged", "txlog.apply"),
              ("operators.txlog", "read_table", "txlog.read_table"),
              ("operators.scd2", "detect_delta", "scd2.detect_delta"),
              ("operators.scd2", "apply_scd2", "scd2.apply"))
SINK_LAYERS = {"dht11_data_pipeline_spark.streaming.historize": "historize",
               "dht11_data_pipeline_spark.streaming.dedup": "dedup_stream"}


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class NullHooks:
    dedup_state_dir: str | None = None

    def trace_id(self, _tid: str) -> None:
        pass

    def build(self, fn, spark, sf_dir):
        return fn(spark, sf_dir)

    def execute(self, df) -> None:
        noop_write(df)

    def stream_begin(self) -> None:
        pass

    def stream_end(self) -> None:
        pass

    def done(self) -> None:
        pass


class _JobHook:
    """Counts the Spark jobs run inside the outermost span of a name."""

    def __init__(self, hooks: "TracedHooks"):
        self.hooks = hooks

    def enter(self, name: str):
        if self.hooks.tracer.is_open(name):
            return None
        return self.hooks.mark()[0]

    def exit(self, name: str, token) -> None:
        if token is not None:
            self.hooks.jobs[name] += self.hooks.mark()[0] - token


class TracedHooks(NullHooks):
    def __init__(self, spark, cores: int):
        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from dht11_data_pipeline_spark.sources import tables

        self.cores = cores
        self.tracer = Tracer()
        self.stats = SparkStats(spark)
        self.jobs: dict[str, int] = defaultdict(int)
        self.exec_totals = StageTotals()
        self.exec_s = 0.0
        self.hook_s = 0.0
        self.state_mb: list[float] = []
        self.finished = False
        self._stream_mark = None

        jobs = _JobHook(self)
        self.tracer.wrap_function(tables.load_table, "sources.load_table", jobs)
        for m in OPERATOR_MODULES:
            mod = importlib.import_module(f"dht11_data_pipeline_spark.operators.{m}")
            self.tracer.wrap_module(mod, f"operators.{m}", jobs)
        for mod, fn, name in SCD2_CALLS:
            m = importlib.import_module(f"dht11_data_pipeline_spark.{mod}")
            self.tracer.wrap_function(getattr(m, fn), name)

        hooks = self
        self._classes = (DataStreamWriter, DataFrameWriter)
        self._orig = (DataStreamWriter.foreachBatch, DataFrameWriter.parquet)

        def foreach_batch(writer, func):
            layer = SINK_LAYERS.get(getattr(func, "__module__", ""), "stream")

            def traced(batch_df, batch_id):
                hooks.trace_id(f"{layer}#{batch_id}")
                if layer == "dedup_stream" and hooks.dedup_state_dir:
                    hooks.state_mb.append(_dir_mb(hooks.dedup_state_dir))
                with hooks.tracer.span(f"{layer}.sink"):
                    return func(batch_df, batch_id)
            return hooks._orig[0](writer, traced)

        def parquet(writer, path, *args, **kwargs):
            name = _dedup_write_name(path)
            if name is None:
                return hooks._orig[1](writer, path, *args, **kwargs)
            with hooks.tracer.span(name):
                return hooks._orig[1](writer, path, *args, **kwargs)

        DataStreamWriter.foreachBatch = foreach_batch
        DataFrameWriter.parquet = parquet
        self.stats.listen_phases()
        self.jvm0 = self.stats.jvm_snapshot()

    def mark(self) -> tuple[int, int, int]:
        t = time.perf_counter()
        m = self.stats.mark()
        self.hook_s += time.perf_counter() - t
        return m

    def _add_between(self, a, b) -> None:
        t = time.perf_counter()
        self.exec_totals.add(self.stats.between(a, b))
        self.hook_s += time.perf_counter() - t

    def trace_id(self, tid: str) -> None:
        self.tracer.trace_id = tid

    def build(self, fn, spark, sf_dir):
        a = self.mark()[0]
        with self.tracer.span("plans.build"):
            df = fn(spark, sf_dir)
        self.jobs["plans.build"] += self.mark()[0] - a
        return df

    def execute(self, df) -> None:
        a = self.mark()
        with self.tracer.span("exec") as s:
            noop_write(df)
        self._add_between(a, self.mark())
        self.exec_s += s.dur

    def stream_begin(self) -> None:
        self._stream_mark = (self.mark(), time.perf_counter())

    def stream_end(self) -> None:
        mark, t = self._stream_mark
        self.exec_s += time.perf_counter() - t
        self._add_between(mark, self.mark())

    def done(self) -> None:
        if self.finished:
            return
        self.finished = True
        self.stats.stop_phases()
        self.tracer.restore()
        (fb_cls, pq_cls), (fb, pq) = self._classes, self._orig
        fb_cls.foreachBatch = fb
        pq_cls.parquet = pq

    def layers(self, windows: list[tuple[float, float]]) -> dict:
        """Per-layer metrics over the timed windows."""
        out = {}
        wall = sum(t1 - t0 for t0, t1 in windows)
        out["trace.wall_s"] = (wall, "s")
        out["untraced_s"] = (wall - sum(self.tracer.covered(t0, t1) for t0, t1 in windows), "s")
        out["trace.overhead_s"] = (self.hook_s, "s")

        selfs = self.tracer.self_times()
        totals = self.tracer.totals()
        calls, load_s = totals.get("sources.load_table", (0, 0.0))
        out["sources.load_table.calls"] = (calls, "count")
        out["sources.load_table.s"] = (load_s, "s")
        out["sources.load_table.jobs"] = (self.jobs["sources.load_table"], "count")
        out["plans.build_s"] = (selfs.get("plans.build", 0.0), "s")
        out["plans.build_jobs"] = (self.jobs["plans.build"], "count")
        for m in OPERATOR_MODULES:
            out[f"operators.{m}.s"] = (selfs.get(f"operators.{m}", 0.0), "s")
            out[f"operators.{m}.jobs"] = (self.jobs[f"operators.{m}"], "count")

        v = self.exec_totals.v
        out["exec.s"] = (self.exec_s, "s")
        for k in ("jobs", "stages", "tasks"):
            out[f"exec.{k}"] = (int(v[k]), "count")
        for k in ("task_run_s", "task_cpu_s", "python_s"):
            out[f"exec.{k}"] = (v[k], "s")
        for k in ("shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            out[f"exec.{k}"] = (v[k], "MB")
        out["exec.core_util"] = (
            v["task_run_s"] / (self.exec_s * self.cores) if self.exec_s else 0.0, "ratio")

        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_ms"] = (self.stats.phases_ms.get(phase, 0.0), "ms")
        jvm1 = self.stats.jvm_snapshot()
        out["jvm.gc_s"] = (jvm1["gc_s"] - self.jvm0["gc_s"], "s")
        out["jvm.gc_count"] = (jvm1["gc_count"] - self.jvm0["gc_count"], "count")
        out["jvm.code_cache_mb"] = (jvm1["code_cache_mb"], "MB")

        out["historize.sink_s"] = (totals.get("historize.sink", (0, 0.0))[1], "s")
        for _mod, _fn, name in SCD2_CALLS:
            out[f"{name}_s"] = (totals.get(name, (0, 0.0))[1], "s")
        out["dedup_stream.sink_s"] = (totals.get("dedup_stream.sink", (0, 0.0))[1], "s")
        out["dedup_stream.pairs_s"] = (totals.get("dedup_stream.pairs", (0, 0.0))[1], "s")
        out["dedup_stream.signature_s"] = (
            totals.get("dedup_stream.signature", (0, 0.0))[1], "s")
        out["dedup_stream.state_mb"] = (
            sum(self.state_mb) / len(self.state_mb) if self.state_mb else 0.0, "MB")
        return out


def _dedup_write_name(path) -> str | None:
    p = str(path).replace(os.sep, "/")
    if "/pairs/batch=" in p:
        return "dedup_stream.pairs"
    if "/sigs/batch=" in p:
        return "dedup_stream.signature"
    if "/docs/batch=" in p:
        return "dedup_stream.docs"
    return None


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total / 2**20
