"""The workloads, built from parts: a registry sweep and two streams.

A part has four steps, and a workload runs each step for all of its
parts before the next step:

1. ``prepare``: write the inputs (before the session; no clock runs);
2. ``warm``: warm-up at the timed scale, billed to ``setup_s``;
3. ``measure``: the timed window(s);
4. ``check``: verify the outputs, outside every timed window.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time
from collections import Counter
from dataclasses import dataclass, field

import datagen

# Registry keys run on tables generated with seed 42 at this scale; the
# run's seed only sets the order of keys within each pass.
REGISTRY_SF = 0.01
TABLE_SEED = 42

# Relational/SCD2 and TPC-H keys (plans/queries.py, plans/tpch_queries.py):
# every fifth of the 70, in sorted order.
SQL_CORE_KEYS = [
    "a1_latest_order_per_customer", "a_grouping_sets_sql",
    "a_pivot_price_by_priority", "f_bitwise_suite", "j1_interface_registration",
    "j_interval_bucketed", "o_set_ops_snapshot_diff", "p_inactive_devices",
    "q14_promo_revenue_share", "q19_disjunctive_revenue", "q2_min_cost_supplier",
    "q7_bination_volume", "scd2_change_feed", "w1_surrogate_key_mint",
]

# LLM-pipeline keys: the graph, kmeans and PQ hybrid tiers (eager
# count/persist/collect jobs while the DataFrame is built) and a
# Python/Arrow codec. Dedup minhash runs in the document stream of the
# same workload.
LLM_CURATION_KEYS = [
    "graph_triangle_count", "sim_kmeans_clusters", "sim_pq_ann", "mm_gif_decode",
]

# One micro-batch per file. The first WARM_FILES files are drained as
# set-up; the rest are the timed backlog.
SENSOR_ROWS_PER_FILE = 2000
DOC_DOCS_PER_FILE = 500
WARM_FILES = 2


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    setup_s: float = 0.0
    op_s: list[float] = field(default_factory=list)   # per key / per batch
    e2e: dict = field(default_factory=dict)           # name -> (value, unit)
    layers: dict = field(default_factory=dict)        # name -> (value, unit)
    notes: list[str] = field(default_factory=list)

    def fail(self, note: str) -> None:
        self.failed += 1
        self.correct = False
        self.notes.append(note)


def percentile_tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile
    that keeps at least ten samples above it, but never below p90 (the
    nearest-rank p90 when a run has fewer than 100 samples)."""
    xs = sorted(values)
    n = len(xs)
    i = max(n - 11, -(-9 * n // 10) - 1)
    return xs[i], 100.0 * (i + 1) / n, n - 1 - i


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


# ---------------------------------------------------------------------------
# registry sweep
# ---------------------------------------------------------------------------

class Registry:
    """Keys of ``__spark_entry__.queries()``, built and run through the
    ``noop`` sink, each pass in a seeded order. The warm-up pass
    collects every key and compares it with its DuckDB oracle
    (tests/diffcheck.py)."""

    def __init__(self, ctx, keys: list[str]):
        self.ctx, self.keys = ctx, keys
        self.sf_dir = os.path.join(ctx.work, "tables")
        self.bad: dict[str, str] = {}

    def prepare(self) -> None:
        datagen.write_tables(self.sf_dir, self.ctx.scale(REGISTRY_SF), seed=TABLE_SEED)

    def warm(self, spark, res: Result) -> float:
        """Returns the seconds spent in the oracle (not set-up)."""
        import __spark_entry__ as E

        self.registry, oracles = E.queries(), E.oracle_sql()
        diffcheck = _diffcheck(self.ctx.root)
        oracle_s = 0.0
        for k in self.keys:
            try:
                df = self.registry[k](spark, self.sf_dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                t = time.perf_counter()
                d_cols, d_rows = diffcheck.duckdb_run(self.sf_dir, oracles[k])
                oracle_s += time.perf_counter() - t
                if sorted(cols) != sorted(d_cols):
                    self.bad[k] = f"columns {sorted(cols)} != oracle {sorted(d_cols)}"
                elif (diffcheck.canonical_hash(cols, rows)
                      != diffcheck.canonical_hash(d_cols, d_rows)):
                    self.bad[k] = (f"{len(rows)} rows differ from the oracle's "
                                   f"{len(d_rows)} (count or canonical value hash)")
            except Exception as exc:  # noqa: BLE001 — a failing key is a result
                self.bad[k] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
        return oracle_s

    def measure(self, hooks, res: Result) -> None:
        rng = random.Random(self.ctx.seed)
        c0 = self.ctx.cpu_now()
        t0 = time.perf_counter()
        passes = []
        for _ in range(self.ctx.registry_passes()):
            order = list(self.keys)
            rng.shuffle(order)
            p0 = time.perf_counter()
            for k in order:
                res.attempted += 1
                hooks.trace_id(f"{k}#{len(passes)}")
                s = time.perf_counter()
                try:
                    hooks.execute(hooks.build(self.registry[k], self.ctx.spark, self.sf_dir))
                except Exception as exc:  # noqa: BLE001
                    res.fail(f"run FAIL {k}: {type(exc).__name__}")
                    continue
                res.op_s.append(time.perf_counter() - s)
                if k in self.bad:
                    res.fail(f"verify FAIL {k}: {self.bad[k]}")
            passes.append(time.perf_counter() - p0)
        self.ctx.timed(t0, time.perf_counter(), self.ctx.cpu_now() - c0)
        res.notes.append(f"registry: {len(passes)} passes of {len(self.keys)} keys, "
                         f"pass_s={[round(p, 3) for p in passes]}")

    def check(self, spark, res: Result) -> None:
        """Verified in the warm-up pass; a key that failed there counts
        as failed on each timed execution."""


def _diffcheck(root: str):
    """tests/diffcheck.py, imported by path (``tests`` is no package)."""
    spec = importlib.util.spec_from_file_location(
        "diffcheck", os.path.join(root, "tests", "diffcheck.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ---------------------------------------------------------------------------
# streams
# ---------------------------------------------------------------------------

def _drain(query) -> list[dict]:
    query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))
    return [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]


class Stream:
    """A file-source stream over a seeded backlog of JSON-line files,
    one micro-batch per file, trigger ``availableNow`` (a closed loop:
    each batch starts when the previous one committed). The first
    WARM_FILES files are drained as set-up, which creates the table and
    compiles the sink's plans; the same query, restarted on its
    checkpoint, then drains the rest inside the timed window."""

    kind = ""
    rows_per_file = 0
    state = None  # the sink's state store, if it keeps one

    def __init__(self, ctx):
        self.ctx = ctx
        self.staged = os.path.join(ctx.work, f"{self.kind}_staged")
        self.src = os.path.join(ctx.work, f"{self.kind}_source")
        self.ckpt = os.path.join(ctx.work, f"{self.kind}_checkpoint")
        self.per_file = ctx.scale_rows(self.rows_per_file)
        self.n_files = ctx.stream_files(self.kind)
        self.progress = None

    def _release(self, names: list[str]) -> None:
        os.makedirs(self.src, exist_ok=True)
        for n in names:
            os.rename(os.path.join(self.staged, n), os.path.join(self.src, n))

    def warm(self, spark, res: Result) -> float:
        self._release(sorted(os.listdir(self.staged))[:WARM_FILES])
        _drain(self.start(spark))
        self.after_warm()
        return 0.0

    def after_warm(self) -> None:
        pass

    def measure(self, hooks, res: Result) -> None:
        self._release(sorted(os.listdir(self.staged)))
        hooks.dedup_state_dir = self.state
        hooks.stream_begin()
        c0 = self.ctx.cpu_now()
        t0 = time.perf_counter()
        try:
            progress = _drain(self.start(self.ctx.spark))
        except Exception as exc:  # noqa: BLE001 — a failed stream is a result
            res.attempted += self.n_files
            res.failed += self.n_files - 1
            res.fail(f"stream FAIL {self.kind}: {type(exc).__name__}: {str(exc)[:300]}")
            return
        t1 = time.perf_counter()
        self.ctx.timed(t0, t1, self.ctx.cpu_now() - c0)
        hooks.stream_end()
        self.progress = progress

        trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        res.op_s += trig
        res.attempted += len(trig)
        k = max(1, len(trig) // 3)
        rows = self.n_files * self.per_file
        res.e2e["rows_per_s"] = (rows / (t1 - t0), "rows/s")
        res.e2e["batch_p50_s"] = (median(trig), "s")
        res.e2e["batch_growth"] = (median(trig[-k:]) / median(trig[:k]), "ratio")
        res.notes.append(f"{self.kind}: {len(trig)} timed batches after {WARM_FILES} "
                         f"set-up batches, trigger_s={[round(x, 2) for x in trig]}")
        durations: Counter = Counter()
        for p in progress:
            durations.update(p["durationMs"])
        for m, key in (("trigger_s", "triggerExecution"), ("add_batch_s", "addBatch"),
                       ("query_planning_s", "queryPlanning"), ("wal_commit_s", "walCommit"),
                       ("commit_offsets_s", "commitOffsets"),
                       ("latest_offset_s", "latestOffset"), ("get_batch_s", "getBatch")):
            res.layers[f"stream.{m}"] = (durations[key] / 1e3, "s")
        # Spark counts a row once per scan of the micro-batch: this is
        # reads per generated row, never throughput
        res.layers["stream.source_reads_per_row"] = (
            sum(p["numInputRows"] for p in progress) / rows, "ratio")
        if len(progress) != self.n_files:
            res.fail(f"{self.kind}: expected {self.n_files} batches, saw {len(progress)}")

    def check(self, spark, res: Result) -> None:
        if self.progress is not None:
            res.attempted += 1  # the final-state check
            self.verify(spark, res)


class SensorStream(Stream):
    """read_reading_stream → typed_readings → scd2_logged_batch_writer
    (HIST_CFG, package defaults) into a transaction-logged SCD2 table."""

    kind = "sensor"
    rows_per_file = SENSOR_ROWS_PER_FILE

    def prepare(self) -> None:
        self.expected, self.changed = datagen.write_sensor_backlog(
            self.staged, self.ctx.seed, WARM_FILES + self.n_files, self.per_file)
        self.table = os.path.join(self.ctx.work, "hist_dht11_data")

    def start(self, spark):
        from dht11_data_pipeline_spark.pipeline import HIST_CFG
        from dht11_data_pipeline_spark.streaming.historize import scd2_logged_batch_writer
        from dht11_data_pipeline_spark.streaming.ingest import (
            read_reading_stream, typed_readings)

        readings = typed_readings(
            read_reading_stream(spark, self.src, max_files_per_trigger=1), watermark=None)
        return (readings.writeStream
                .foreachBatch(scd2_logged_batch_writer(self.table, HIST_CFG))
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True).start())

    def after_warm(self) -> None:
        from dht11_data_pipeline_spark.operators import txlog
        self.warm_version = txlog.current_version(self.table)
        self.warm_bytes = _dir_bytes(self.table)

    def verify(self, spark, res: Result) -> None:
        """The final table holds exactly the rows the generator
        recorded: one current row per key, one closed row per change."""
        from dht11_data_pipeline_spark.operators import txlog

        # write amplification: every byte the table directory received
        # over the bytes of the files the final manifest references
        written, files = _dir_bytes(self.table)
        manifest = txlog.read_manifest(self.table)
        live = sum(_dir_bytes(os.path.join(self.table, p))[0]
                   for p in manifest["buckets"].values())
        res.e2e["write_amp"] = (written / live, "ratio")
        self._txlog_counts(res, (written, files))

        got = Counter(
            (r[0], r[1].strftime("%Y-%m-%d %H:%M:%S"), r[2], r[3], r[4])
            for r in txlog.read_table(spark, self.table).select(
                "device_id", "ts", "humidity", "temperature", "da_current_flag").collect())
        want = Counter(self.expected)
        if got != want:
            res.fail(f"verify FAIL sensor: {sum((got - want).values())} unexpected rows, "
                     f"{sum((want - got).values())} missing")

    def _txlog_counts(self, res: Result, end: tuple[int, int]) -> None:
        """Commits, rewritten buckets and rows, files and bytes of the
        timed drain, from the manifests and the directory listing."""
        import pyarrow.parquet as pq

        from dht11_data_pipeline_spark.operators import txlog
        last = txlog.current_version(self.table)
        prev = txlog.read_manifest(self.table, self.warm_version)["buckets"]
        rewritten = rows_rewritten = 0
        for v in range(self.warm_version + 1, last + 1):
            buckets = txlog.read_manifest(self.table, v)["buckets"]
            for rel in (p for b, p in buckets.items() if prev.get(b) != p):
                rewritten += 1
                d = os.path.join(self.table, rel)
                rows_rewritten += sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                                      for f in os.listdir(d) if f.endswith(".parquet"))
            prev = buckets
        changed = sum(self.changed[WARM_FILES:])
        res.layers["txlog.commits"] = (last - self.warm_version, "count")
        res.layers["txlog.buckets_rewritten"] = (rewritten, "count")
        res.layers["txlog.files_written"] = (end[1] - self.warm_bytes[1], "count")
        res.layers["txlog.bytes_written_mb"] = ((end[0] - self.warm_bytes[0]) / 2**20, "MB")
        res.layers["txlog.useful_row_ratio"] = (
            changed / rows_rewritten if rows_rewritten else 0.0, "ratio")


class DocStream(Stream):
    """streaming.dedup.start_minhash_dedup_stream over a document
    backlog with seeded near-duplicates."""

    kind = "docs"
    rows_per_file = DOC_DOCS_PER_FILE

    def prepare(self) -> None:
        datagen.write_doc_backlog(self.staged, self.ctx.seed,
                                  WARM_FILES + self.n_files, self.per_file)
        self.state = os.path.join(self.ctx.work, "docs_state")
        self.pairs = os.path.join(self.ctx.work, "pairs")

    def start(self, spark):
        from dht11_data_pipeline_spark.streaming.dedup import start_minhash_dedup_stream
        return start_minhash_dedup_stream(spark, self.src, state_dir=self.state,
                                          pairs_dir=self.pairs, checkpoint_dir=self.ckpt)

    def verify(self, spark, res: Result) -> None:
        """The union of every batch's pairs equals one minhash run over
        the whole corpus, each pair reported once."""
        from dht11_data_pipeline_spark.operators import dedup
        from dht11_data_pipeline_spark.streaming.dedup import DOC_SCHEMA

        streamed = Counter(tuple(r) for r in spark.read.parquet(self.pairs)
                           .select("doc_a", "doc_b", "jaccard").collect())
        full = Counter(tuple(r) for r in dedup.minhash_near_duplicates(
            spark.read.schema(DOC_SCHEMA).json(self.src)).collect())
        res.layers["dedup_stream.pairs"] = (sum(streamed.values()), "count")
        if streamed != full or not full:
            res.fail(f"verify FAIL docs: streamed {sum(streamed.values())} pairs, "
                     f"one-shot {sum(full.values())}, "
                     f"{sum((streamed - full).values())} extra, "
                     f"{sum((full - streamed).values())} missing")


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def run_parts(ctx, parts) -> Result:
    res = Result()
    for p in parts:
        p.prepare()
    spark = ctx.start_session()
    t = time.perf_counter()
    excluded = sum(p.warm(spark, res) for p in parts)
    res.setup_s = ctx.session_s + time.perf_counter() - t - excluded
    hooks = ctx.make_hooks(spark)
    for p in parts:
        p.measure(hooks, res)
    hooks.done()
    for p in parts:
        p.check(spark, res)
    if res.op_s:
        tail, pct, beyond = percentile_tail(res.op_s)
        res.e2e["queries_per_s"] = (len(res.op_s) / sum(res.op_s), "1/s")
        res.e2e["query_p50_s"] = (median(res.op_s), "s")
        res.e2e["query_tail_s"] = (tail, "s")
        res.notes.append(f"query_tail_s is p{pct:.1f} of {len(res.op_s)} samples, "
                         f"{beyond} beyond it")
    return res


WORKLOADS = {
    "llm_curation": lambda ctx: run_parts(
        ctx, [Registry(ctx, LLM_CURATION_KEYS), DocStream(ctx)]),
    "sensor_scd2_stream": lambda ctx: run_parts(ctx, [SensorStream(ctx)]),
}

# Runnable by hand; not in BENCHMARK.json (see README.md, "Budget").
EXTRA_WORKLOADS = {
    "sql_core": lambda ctx: run_parts(ctx, [Registry(ctx, SQL_CORE_KEYS)]),
    "doc_dedup_stream": lambda ctx: run_parts(ctx, [DocStream(ctx)]),
}
