"""Outside-in tracing: spans around calls into the engine's layers.

Every span is opened in the benchmark's own code around one public call
(``get_spark``, ``ingest_csv_to_bronze``, ``run_incremental_etl``, the
gold builders, a ``queries.catalog`` builder, ``collect``).  Each span
runs its Spark work under its own job group, so after the span closes
the tracer can attribute jobs, stages, tasks, rows, bytes and task time
to it from Spark's status store (the data the REST status API serves).
Catalyst phase times come from ``QueryExecution.tracker()`` and Python
kernel metrics from the final adaptive plan's Python nodes.

Span durations never include the tracer's own reads: those happen after
the span's clock stops and are summed into ``overhead_s``.  Spans stay
in memory and are written out once at the end of the run.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

# StageData getters summed per span -> name used in the span record.
_STAGE_FIELDS = {
    "inputRecords": "input_rows",
    "inputBytes": "input_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "numCompleteTasks": "tasks",
    "numFailedTasks": "failed_tasks",
}
# SQL metrics of Python evaluation nodes (Arrow/pandas UDFs, mapInPandas).
_PYTHON_METRICS = {
    "pythonTotalTime": "python_total_ms",
    "pythonBootTime": "python_boot_ms",
    "pythonInitTime": "python_init_ms",
    "pythonDataSent": "bytes_sent",
    "pythonDataReceived": "bytes_received",
    "pythonNumRowsReceived": "rows_received",
}
_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """Collects spans for one run.  ``enabled=False`` makes every call a
    plain pass-through, so traced and untraced ops run the same code."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count()
        self._stack: list[int] = []
        self._op: str | None = None

    def start_op(self, op_id: str) -> None:
        self._op = op_id

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one layer call; attribute its Spark jobs to it."""
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        sid = next(self._ids)
        group = f"perfbench-{sid}"
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "op": self._op, **attrs}
        sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            t0 = time.perf_counter()
            if parent is not None:
                sc.setJobGroup(f"perfbench-{parent}", "")
            rec.update(self._jobs(group))
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t0

    # -- status store ------------------------------------------------------

    def _jobs(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # The status store is fed by an asynchronous listener bus; drain
        # it so every job of the span is fully accounted.
        jsc.listenerBus().waitUntilEmpty(10_000)
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        gw = sc._gateway
        no_status, no_quantiles = gw.jvm.java.util.ArrayList(), gw.new_array(gw.jvm.double, 0)
        out = dict.fromkeys(_STAGE_FIELDS.values(), 0)
        out["jobs"], out["stages"] = 0, 0
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                attempt = stage.currentAttemptId if stage is not None else 0
                try:
                    data = store.stageAttempt(stage_id, attempt, False, no_status, False, no_quantiles)._1()
                except Exception:  # noqa: BLE001 - stage evicted or never submitted
                    continue
                if data.numCompleteTasks() == 0 and data.numFailedTasks() == 0:
                    continue  # skipped stage (its shuffle output was reused)
                out["stages"] += 1
                for getter, key in _STAGE_FIELDS.items():
                    out[key] += getattr(data, getter)()
        return out

    # -- plan-side metrics ---------------------------------------------------

    def plan_metrics(self, df) -> dict:
        """Catalyst phase times and Python-node metrics of an executed
        DataFrame (call after its action)."""
        if not self.enabled:
            return {}
        t0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        out = {f"{p}_ms": 0.0 for p in _PHASES}
        phases = qe.tracker().phases()
        for p in _PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                out[f"{p}_ms"] = float(opt.get().durationMs())
        out.update(dict.fromkeys(_PYTHON_METRICS.values(), 0))
        self._walk(qe.executedPlan(), out)
        self.overhead_s += time.perf_counter() - t0
        return out

    def _walk(self, node, out: dict) -> None:
        """Sum Python-node metrics over the final plan, looking through
        adaptive wrappers, query stages, reused exchanges and subqueries."""
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            node = node.finalPhysicalPlan()
        elif cls.endswith("QueryStageExec"):
            node = node.plan()
        elif cls == "ReusedExchangeExec":
            node = node.child()
        else:
            metrics = node.metrics()
            for src, key in _PYTHON_METRICS.items():
                opt = metrics.get(src)
                if opt.isDefined():
                    out[key] += opt.get().value()
            for seq in (node.children(), node.subqueries()):
                for i in range(seq.size()):
                    self._walk(seq.apply(i), out)
            return
        self._walk(node, out)

    def persisted_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())
