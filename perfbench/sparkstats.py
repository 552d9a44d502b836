"""Read what Spark itself recorded: jobs, stages and tasks from the
core status store, Python-worker time from the SQL status store,
Catalyst phase times from each query's ``QueryPlanningTracker``, and
GC and code-cache figures from the JVM's management beans.

All of it is read through py4j from the benchmark; nothing in the
program is changed. Reads are only made in the traced run.
"""

from __future__ import annotations

import re
from collections import defaultdict

from pyspark.java_gateway import ensure_callback_server_started

PY_TIME_METRIC = "time to run Python workers"
_DURATION = re.compile(r"\n\s*([\d.,]+)\s*(ms|s|m|min|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def _duration_s(text: str) -> float:
    """Total of a formatted SQL timing metric, e.g.
    'total (min, med, max ...)\\n10.5 s (2.4 s, ...)' -> 10.5."""
    m = _DURATION.search(text)
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


class StageTotals:
    """Sums over a set of stages (one attempt each as stored)."""

    FIELDS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "python_s")

    def __init__(self):
        self.v = dict.fromkeys(self.FIELDS, 0.0)

    def add(self, other: "StageTotals") -> None:
        for k in self.FIELDS:
            self.v[k] += other.v[k]


class SparkStats:
    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.phases_ms: dict[str, float] = defaultdict(float)
        self._listener = None

    # -- marks ---------------------------------------------------------
    def flush(self) -> None:
        """Wait until every posted listener event reached the stores."""
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int, int]:
        """(last job id, last stage id, last SQL execution id)."""
        self.flush()
        jobs = self._store.jobsList(None)
        stages = self._stage_list()
        ex = self._sql.executionsList()
        return (jobs.apply(0).jobId() if jobs.size() else -1,
                stages.apply(0).stageId() if stages.size() else -1,
                ex.apply(ex.size() - 1).executionId() if ex.size() else -1)

    def _stage_list(self):
        jvm = self._jvm
        return self._store.stageList(jvm.java.util.ArrayList(), False, False,
                                     self._gw.new_array(jvm.double, 0),
                                     jvm.java.util.ArrayList())

    def between(self, a: tuple[int, int, int], b: tuple[int, int, int]) -> StageTotals:
        """Totals of the jobs, stages and SQL executions that started
        after mark ``a`` and by mark ``b`` (both taken with ``mark``)."""
        t = StageTotals()
        t.v["jobs"] = max(0, b[0] - a[0])
        stages = self._stage_list()
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= a[1]:
                break
            if sid > b[1]:
                continue
            t.v["stages"] += 1
            t.v["tasks"] += s.numCompleteTasks()
            t.v["task_run_s"] += s.executorRunTime() / 1e3
            t.v["task_cpu_s"] += s.executorCpuTime() / 1e9
            t.v["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            t.v["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            t.v["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
        for eid in range(a[2] + 1, b[2] + 1):
            t.v["python_s"] += self._python_s(eid)
        return t

    def _python_s(self, execution_id: int) -> float:
        opt = self._sql.execution(execution_id)
        if opt.isEmpty():
            return 0.0
        ui = opt.get()
        metrics = ui.metrics()
        ids = [metrics.apply(i).accumulatorId() for i in range(metrics.size())
               if metrics.apply(i).name() == PY_TIME_METRIC]
        if not ids:
            return 0.0
        values = self._sql.executionMetrics(execution_id)
        total = 0.0
        for acc in ids:
            v = values.get(acc)
            if not v.isEmpty():
                total += _duration_s(v.get())
        return total

    # -- Catalyst ------------------------------------------------------
    def listen_phases(self) -> None:
        """Register a QueryExecutionListener that adds each finished
        query's analysis / optimization / planning time."""
        ensure_callback_server_started(self._gw)
        self._listener = _PhaseListener(self)
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def stop_phases(self) -> None:
        if self._listener is not None:
            self.flush()
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    # -- JVM -----------------------------------------------------------
    def jvm_snapshot(self) -> dict[str, float]:
        mf = self._jvm.java.lang.management.ManagementFactory
        gcs = mf.getGarbageCollectorMXBeans()
        gc_ms = gc_n = 0
        for i in range(gcs.size()):
            gc_ms += max(0, gcs.get(i).getCollectionTime())
            gc_n += max(0, gcs.get(i).getCollectionCount())
        pools = mf.getMemoryPoolMXBeans()
        code = 0
        for i in range(pools.size()):
            p = pools.get(i)
            if "CodeHeap" in p.getName() or p.getName() == "Code Cache":
                code += p.getUsage().getUsed()
        return {"gc_s": gc_ms / 1e3, "gc_count": gc_n, "code_cache_mb": code / 2**20}


class _PhaseListener:
    def __init__(self, stats: SparkStats):
        self._stats = stats

    def onSuccess(self, func_name, qe, duration_ns):
        self._add(qe)

    def onFailure(self, func_name, qe, exception):
        self._add(qe)

    def _add(self, qe):
        phases = qe.tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            summary = kv._2()
            self._stats.phases_ms[kv._1()] += summary.endTimeMs() - summary.startTimeMs()

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
