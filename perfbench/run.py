"""The repository benchmark: one workload per run.

Run from the repository root:

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload sensor_scd2_stream --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --selfcheck

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (README.md lists both). Either way the last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (name -> value and unit). Everything before it is a
human-readable report: every metric with its unit, the host record and
the correctness notes.

All scratch files live in ``.perfbench_work/`` under the current
directory and are deleted on exit; a traced run writes its spans to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import catalog  # noqa: E402
import host  # noqa: E402
from layers import NullHooks, TracedHooks  # noqa: E402

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")

# Timed work is sized to about --seconds at the per-pass and per-batch
# times measured on the reference host (README.md), with a floor so a
# run always has a median to report: registry passes, and micro-batches
# (one file each) per stream.
PASS_S, MIN_PASSES = 10.0, 1
BATCH_S, MIN_FILES = {"sensor": 8.0, "docs": 3.0}, {"sensor": 2, "docs": 3}


class Ctx:
    """What a workload needs from the harness: its settings, the work
    directory, the session, and the hooks that trace (or not)."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tiny = args.tiny
        self.work = work
        self.root = ROOT
        self.cores = os.cpu_count() or 1
        self.spark = None
        self.session_s = 0.0
        self.get_spark_s = 0.0
        self.hooks = NullHooks()
        self.windows: list[tuple[float, float]] = []
        self.cpu_s = 0.0  # CPU seconds of the process tree in the timed windows
        self._cpu_pids: list[int] = []

    def scale(self, sf: float) -> float:
        return 0.001 if self.tiny else sf

    def scale_rows(self, n: int) -> int:
        return max(50, n // 10) if self.tiny else n

    def registry_passes(self) -> int:
        return max(MIN_PASSES, round(self.seconds / PASS_S))

    def stream_files(self, kind: str) -> int:
        return max(MIN_FILES[kind], round(self.seconds / BATCH_S[kind]))

    def start_session(self):
        """Import the program, start the session and run one trivial job
        (JVM, executors and Python workers up)."""
        t = time.perf_counter()
        from dht11_data_pipeline_spark.session import get_spark
        g = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.get_spark_s = time.perf_counter() - g
        self.spark.range(1).count()
        self.session_s = time.perf_counter() - t
        self._cpu_pids = [os.getpid(), self.jvm_pid()]
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def cpu_now(self) -> float:
        return host.tree_cpu_s(self._cpu_pids)

    def make_hooks(self, spark):
        """Tracing hooks for the timed windows (inert when untraced)."""
        if self.trace:
            self.hooks = TracedHooks(spark, self.cores)
        return self.hooks

    def timed(self, t0: float, t1: float, cpu_s: float) -> None:
        """Record one timed window and the CPU seconds spent in it."""
        self.windows.append((t0, t1))
        self.cpu_s += cpu_s


def _stop_session(ctx: Ctx) -> None:
    """Stop Spark and wait until the JVM, every Python worker it started
    and every other child of this process have exited."""
    started = host.descendants(os.getpid())
    if "pyspark" in sys.modules:
        from pyspark import SparkContext
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            if ctx.spark is not None:
                ctx.spark.stop()
            if gw is not None:
                gw.shutdown()
        except Exception as e:  # e.g. the gateway connection was cut by SIGTERM
            print(f"perfbench: Spark did not stop cleanly: {e!r}", file=sys.stderr)
        finally:
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
    host.wait_gone(started)
    host.reap_children()


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


# What the benchmark runs and checks against, relative to the root.
PROGRAM = ["dht11_data_pipeline_spark/session.py", "__spark_entry__.py",
           "tests/diffcheck.py"]


def run(args) -> int:
    missing = [f for f in PROGRAM if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        # fail before any process is started or any file is written
        print(f"perfbench: run from the repository root; missing {', '.join(missing)}",
              file=sys.stderr)
        return 1
    sys.path.insert(0, ROOT)
    import workloads

    host.become_subreaper()
    # a terminated run still stops Spark and waits for its processes
    signal.signal(signal.SIGTERM, lambda _sig, _frame: sys.exit(128 + signal.SIGTERM))

    os.makedirs(WORK_ROOT, exist_ok=True)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    ctx = Ctx(args, work)
    try:
        conditions = host.record_start()
        res = {**workloads.WORKLOADS, **workloads.EXTRA_WORKLOADS}[args.workload](ctx)
        ctx.hooks.done()
        layers = ctx.hooks.layers(ctx.windows) if ctx.trace else {}
        layers.update(res.layers)
        spans = ctx.hooks.tracer if ctx.trace else None
        res.e2e["setup_s"] = (res.setup_s, "s")
        res.e2e["cpu_s_per_query"] = (ctx.cpu_s / max(1, len(res.op_s)), "s")
        res.e2e["peak_rss_mb"] = (host.peak_rss_mb([os.getpid(), ctx.jvm_pid()]), "MB")
        res.e2e["error_rate"] = (res.failed / max(1, res.attempted), "fraction")
        layers["session.get_spark_s"] = (ctx.get_spark_s, "s")
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        try:
            _stop_session(ctx)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
                os.rmdir(WORK_ROOT)
    conditions["load1_end"] = host.load1()

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {int(ctx.trace)}{' tiny' if args.tiny else ''}")
    print("host " + json.dumps(conditions, sort_keys=True))
    for note in res.notes:
        print("note " + note)
    if ctx.trace:
        os.makedirs(OUT_ROOT, exist_ok=True)
        path = os.path.join(OUT_ROOT, f"spans-{args.workload}-{args.seed}.jsonl")
        spans.write(path)
        print(f"spans written to {os.path.relpath(path, ROOT)}")
        selfs = spans.self_times()
        for name, s in sorted(selfs.items()):
            print(f"self {name} = {_fmt(s)} s")
        print(f"self_total_s = {_fmt(sum(selfs.values()))}")
        metrics = {n: {"value": layers.get(n, (0, u))[0], "unit": u}
                   for n, u in catalog.PER_LAYER}
        for n, m in metrics.items():
            print(f"layer {n} = {_fmt(m['value'])} {m['unit']}")
    else:
        for n, u, better in catalog.END_TO_END + catalog.REPORTED:
            if n in res.e2e:
                print(f"metric {n} = {_fmt(res.e2e[n][0])} {u} ({better} is better)")
        metrics = {n: {"value": res.e2e[n][0], "unit": u}
                   for n, u, _b in catalog.END_TO_END}
    print(f"correct {res.correct} attempted {res.attempted} failed {res.failed}")
    print(json.dumps({"correct": res.correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


# ---------------------------------------------------------------------------
# self-check
# ---------------------------------------------------------------------------

def selfcheck() -> int:
    """Run every workload at tiny scale, untraced and traced, and check
    the output contract: every metric named with its unit, a correct
    verdict, self times + untraced_s == traced wall within 5%, and no
    scratch directory left behind."""
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == \
        catalog.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == catalog.PER_LAYER
    problems = []
    for wl in [*workloads.WORKLOADS, *workloads.EXTRA_WORKLOADS]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
            t = time.perf_counter()
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            wall = time.perf_counter() - t
            lines = out.stdout.strip().splitlines()
            tag = f"{wl} trace={trace}"
            if out.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {out.returncode}\n{out.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            names = catalog.PER_LAYER if trace else \
                [(n, u) for n, u, _b in catalog.END_TO_END]
            for n, u in names:
                m = result["metrics"].get(n)
                if m is None or m.get("unit") != u or not isinstance(m.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {n} missing or without unit {u}")
            if set(result["metrics"]) != {n for n, _u in names}:
                problems.append(f"{tag}: unexpected metric names")
            if not result["correct"] or result["failed"]:
                problems.append(f"{tag}: verdict {result}")
            if trace:
                self_total = next(float(x.split("=")[1]) for x in lines
                                  if x.startswith("self_total_s"))
                untraced = result["metrics"]["untraced_s"]["value"]
                wall_s = result["metrics"]["trace.wall_s"]["value"]
                if abs(self_total + untraced - wall_s) > 0.05 * wall_s:
                    problems.append(f"{tag}: self {self_total} + untraced {untraced} "
                                    f"!= wall {wall_s}")
            if os.path.exists(WORK_ROOT):
                problems.append(f"{tag}: {WORK_ROOT} left behind")
            print(f"{tag}: exit {out.returncode} in {wall:.1f} s, "
                  f"correct={result['correct']}", flush=True)
    for p in problems:
        print("PROBLEM " + p)
    print("selfcheck " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=["llm_curation", "sensor_scd2_stream",
                                          "sql_core", "doc_dedup_stream"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smallest inputs (sf0.001, three files per stream)")
    p.add_argument("--selfcheck", action="store_true",
                   help="run every workload at tiny scale and check the output")
    args = p.parse_args(argv)
    if args.selfcheck:
        return selfcheck()
    if not args.workload:
        p.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
