"""Spark task and SQL metrics read through py4j from the status stores.

Works with ``spark.ui.enabled=false``: the AppStatusStore and the SQL
status store are filled by the listener bus either way. The bus is
asynchronous, so every read first waits until it has delivered all
posted events; otherwise the last stage of an action could be read
with only part of its tasks, or a job could be billed to the next span.
Deltas are taken by stage, job and SQL execution id, never by cumulative
totals, so work from warm-up or from an earlier span cannot leak into a
later one.
"""

from __future__ import annotations

import re

# SQL metric name on MapInArrow nodes → record key. "time to initialize
# Python workers" is left out: on a reused worker it also counts the
# time the worker sat idle since its previous task.
PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_returned_mb",
}
_SCALE = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10,
          "TiB": 2**20}
_VALUE = re.compile(r"([\d.,]+)\s*([A-Za-z]+)")
# raw accumulator value → seconds or MiB, by SQL metric type
_RAW_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1 / 2**20}

BUS_TIMEOUT_MS = 60_000

COUNTERS = ("executor_run_s", "jvm_cpu_s", "tasks", "failed_tasks", "spill_mb",
            "shuffle_mb", "spark_jobs", "python_run_s", "python_boot_s",
            "python_sent_mb", "python_returned_mb")


def parse_sql_metric(text: str) -> float:
    """'total (min, med, max ...)\\n8.5 s (2.1 s, ...)' or '8.5 s' →
    seconds or MiB."""
    m = _VALUE.match(text.strip().splitlines()[-1].strip())
    if not m or m.group(2) not in _SCALE:
        raise ValueError(f"unrecognised SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


class Snapshot:
    __slots__ = ("stage", "job", "execution")

    def __init__(self, stage: int, job: int, execution: int):
        self.stage, self.job, self.execution = stage, job, execution


class SparkMetrics:
    """Reads what ran since a :class:`Snapshot`. Needs the retained
    stage/job/execution limits raised above what one run submits (the
    session in ``run.py`` sets them), so nothing is evicted mid-span."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = spark._jvm
        self._bus = spark._jsc.sc().listenerBus()
        self._store = spark._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._accumulators = spark._jvm.org.apache.spark.util.AccumulatorContext

    def _stages(self):
        empty = self._jvm.java.util.ArrayList()
        no_quantiles = self._sc._gateway.new_array(self._jvm.double, 0)
        # newest first: the store's natural order reversed
        return self._store.stageList(empty, False, False, no_quantiles,
                                     self._jvm.java.util.ArrayList())

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every event posted
        so far. An action posts its task, stage, job and SQL end events
        before it returns, so after this the stores hold all of them."""
        self._bus.waitUntilEmpty(BUS_TIMEOUT_MS)

    def snapshot(self) -> Snapshot:
        self._drain()
        stages = self._stages()
        stage = stages.apply(0).stageId() if stages.size() else -1
        jobs = self._sc.statusTracker().getJobIdsForGroup()
        n = self._sql.executionsCount()
        execution = (self._sql.executionsList(n - 1, 1).apply(0).executionId()
                     if n else -1)
        return Snapshot(stage, max(jobs, default=-1), execution)

    def since(self, snap: Snapshot) -> tuple[dict, Snapshot]:
        """(counters for everything submitted after ``snap``, a new
        snapshot at the current end)."""
        self._drain()
        out = dict.fromkeys(COUNTERS, 0.0)
        stages = self._stages()
        top = snap.stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= snap.stage:
                break
            top = max(top, sid)
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["jvm_cpu_s"] += s.executorCpuTime() / 1e9
            out["tasks"] += s.numCompleteTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["spill_mb"] += s.diskBytesSpilled() / 2**20
            out["shuffle_mb"] += s.shuffleWriteBytes() / 2**20
        jobs = [j for j in self._sc.statusTracker().getJobIdsForGroup()
                if j > snap.job]
        out["spark_jobs"] = float(len(jobs))
        n = self._sql.executionsCount()
        execution = snap.execution
        # executions are listed oldest first; walk back from the newest
        k = 1
        while k <= n:
            e = self._sql.executionsList(n - k, 1).apply(0)
            eid = e.executionId()
            if eid <= snap.execution:
                break
            execution = max(execution, eid)
            self._add_python_metrics(e, out)
            k += 1
        return out, Snapshot(top, max(jobs, default=snap.job), execution)

    def _add_python_metrics(self, execution, out: dict) -> None:
        """Sum the execution's Python worker metrics. A plan node can be
        listed more than once, so metrics are keyed by accumulator id.
        The live accumulator gives the exact value; the store's string,
        rounded to two or three digits, is the fallback once the
        accumulator has been collected."""
        metrics = {}
        listed = execution.metrics()
        for j in range(listed.size()):
            m = listed.apply(j)
            key = PYTHON_METRICS.get(m.name())
            if key:
                metrics[m.accumulatorId()] = (key, m.metricType())
        if not metrics:
            return
        strings = {}
        it = self._sql.executionMetrics(execution.executionId()).iterator()
        while it.hasNext():
            kv = it.next()
            strings[kv._1()] = kv._2()
        for acc_id, (key, kind) in metrics.items():
            acc = self._accumulators.get(acc_id)
            if acc.isDefined() and kind in _RAW_SCALE:
                out[key] += acc.get().value() * _RAW_SCALE[kind]
            elif acc_id in strings:
                out[key] += parse_sql_metric(strings[acc_id])
