"""Readings taken from outside the program: the Spark status store,
a query's Catalyst phase tracker and process memory.

Every reading here is a public Spark or OS interface; nothing is
patched into the program.
"""

from __future__ import annotations

import os
import resource

from pyspark.sql import DataFrame, SparkSession

# Stage-level task metrics summed per reading (StageData accessor -> key).
_STAGE_FIELDS = {
    "executorCpuTime": "cpu_ns",
    "executorRunTime": "run_ms",
    "jvmGcTime": "gc_ms",
    "executorDeserializeTime": "deserialize_ms",
    "shuffleFetchWaitTime": "fetch_wait_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleWriteRecords": "shuffle_write_records",
    "shuffleReadBytes": "shuffle_read_bytes",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "diskBytesSpilled": "spill_bytes",
    "numCompleteTasks": "tasks",
    "numFailedTasks": "failed_tasks",
}


class StageCounter:
    """Incremental reader of the status store.

    ``read()`` returns the totals of every stage and job that finished
    since the previous ``read()``. The store lists stages newest first
    (descending stage id), so only the new head of the list is walked;
    ``get_spark`` retains 100000 stages, so nothing is evicted within a
    run. Call it only between actions: the readings are attributable
    because the benchmark runs one request at a time.
    """

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._jvm = sc._jvm
        self._seen_stages = self._stage_list().size()
        self._seen_jobs = self._n_jobs()

    def _stage_list(self):
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        return self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._sc._gateway.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )

    def _n_jobs(self) -> int:
        return self._store.jobsList(self._jvm.java.util.ArrayList()).size()

    def read(self, skew: bool = False) -> dict[str, float]:
        """Totals since the last read. With ``skew``, also the max/median
        task run time of the stage with the most executor run time."""
        stages = self._stage_list()
        n = stages.size()
        out = dict.fromkeys(_STAGE_FIELDS.values(), 0)
        out["stages"] = n - self._seen_stages
        worst = None
        it = stages.take(n - self._seen_stages).iterator()
        while it.hasNext():
            s = it.next()
            for field, key in _STAGE_FIELDS.items():
                out[key] += getattr(s, field)()
            if s.numCompleteTasks() > 1 and (worst is None or s.executorRunTime() > worst[2]):
                worst = (s.stageId(), s.attemptId(), s.executorRunTime())
        self._seen_stages = n
        jobs = self._n_jobs()
        out["jobs"] = jobs - self._seen_jobs
        self._seen_jobs = jobs
        out["task_skew"] = self._skew(worst) if skew and worst else 1.0
        return out

    def _skew(self, worst) -> float:
        summary = self._store.taskSummary(worst[0], worst[1], _doubles(self._sc, (0.5, 1.0)))
        if summary.isEmpty():
            return 1.0
        q = summary.get().executorRunTime()
        median, top = q.apply(0), q.apply(1)
        return top / median if median > 0 else 1.0


def _doubles(sc, values):
    arr = sc._gateway.new_array(sc._jvm.double, len(values))
    for i, v in enumerate(values):
        arr[i] = v
    return arr


def catalyst_phases(df: DataFrame) -> dict[str, float]:
    """Plan ``df`` through to its physical plan and return the phase
    times (ms) the QueryExecution's tracker recorded for it."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def peak_rss_mb(spark: SparkSession) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + _python_peak_kb()) / 1024.0


def peak_pools_mb(spark: SparkSession) -> float:
    """Peak use of the driver JVM's memory pools (heap and non-heap, as
    the MemoryPoolMXBeans record them) plus this Python process's peak
    resident memory."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    jvm = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans())
    return (jvm / 1024.0 + _python_peak_kb()) / 1024.0


def _python_peak_kb() -> int:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )
