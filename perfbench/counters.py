"""Per-layer counters read from Spark's own status stores.

Works with the UI disabled (as ``session.get_spark`` builds the session):
job ids come from the job group, stage figures from the core status store
(``lastStageAttempt``) and SQL metrics (Python-worker and scan figures)
from the SQL status store. Reads happen after each pass, outside its timed
window.
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError

from stats import uncovered

# SQL metric name -> counter. The SQL store keeps metric values as the
# display strings Spark formats ("1.2 s", "66.1 KiB"), so these are parsed.
SQL_METRICS = {
    "time to run Python workers": "functions.python_run_s",
    "time to start Python workers": "functions.python_start_s",
    "time to initialize Python workers": "functions.python_init_s",
    "data sent to Python workers": "functions.python_bytes_sent",
    "data returned from Python workers": "functions.python_bytes_returned",
    "scan time": "sources.scan_s",
}

STAGE_COUNTERS = (
    "exec.stages",
    "exec.tasks",
    "exec.failed_tasks",
    "executor.run_s",
    "executor.cpu_s",
    "executor.gc_s",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_s",
    "spill.bytes",
    "sources.bytes_read",
)

# Stage counters summed over all of a query's phases: executor work counts
# wherever it ran, at build time (checkpoints, collects) or in the action.
# Stage and task counts are the action's own.
STAGE_TOTALS = tuple(k for k in STAGE_COUNTERS if k not in ("exec.stages", "exec.tasks"))

# Every counter a traced query record carries.
QUERY_COUNTERS = (
    "queries.build_jobs",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.gap_s",
    *STAGE_TOTALS,
    *SQL_METRICS.values(),
)

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_VALUE = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric. Aggregated values read
    ``"total (min, med, max ...)\\n<total> (<min>, ...)"``; plain ones are
    just ``"<value> <unit>"``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(line)
    if not m:
        return 0.0
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return number * _UNITS.get(unit, 1.0) if unit else number


class SparkCounters:
    """Reads counters for the jobs of one job group and the SQL executions
    started since the last call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.java = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.seen_executions = int(self.sql_store.executionsCount())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the finished jobs."""
        self.jsc.listenerBus().waitUntilEmpty()

    def group(self, group_id: str, start: float, end: float) -> dict[str, float]:
        """Counters of the jobs run under ``group_id``; ``start``/``end`` is
        the wall interval (epoch seconds) the group's phase spanned."""
        out = dict.fromkeys(STAGE_COUNTERS, 0.0)
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group_id)
        out["jobs"] = float(len(job_ids))
        intervals = []
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # NoSuchElementException: never attempted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += sd.numTasks()
                out["exec.failed_tasks"] += sd.numFailedTasks()
                out["executor.run_s"] += sd.executorRunTime() / 1e3
                out["executor.cpu_s"] += sd.executorCpuTime() / 1e9
                out["executor.gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle.write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle.read_bytes"] += sd.shuffleReadBytes()
                out["shuffle.fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                out["spill.bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["sources.bytes_read"] += sd.inputBytes()
                if sd.submissionTime().isDefined() and sd.completionTime().isDefined():
                    intervals.append(
                        (
                            sd.submissionTime().get().getTime() / 1e3,
                            sd.completionTime().get().getTime() / 1e3,
                        )
                    )
        out["gap_s"] = uncovered(start, end, intervals)
        return out

    def sql(self) -> dict[str, dict[str, float]]:
        """SQL metrics of the executions started since the last call, summed
        per job group (the execution's description, which ``setJobGroup``
        sets)."""
        out: dict[str, dict[str, float]] = {}
        total = int(self.sql_store.executionsCount())
        fresh = self.sql_store.executionsList(self.seen_executions, total - self.seen_executions)
        self.seen_executions = total
        for execution in self.java.asJava(fresh):
            sums = out.setdefault(execution.description(), dict.fromkeys(SQL_METRICS.values(), 0.0))
            names = {
                m.accumulatorId(): m.name() for m in self.java.asJava(execution.metrics())
            }
            values = self.java.asJava(self.sql_store.executionMetrics(execution.executionId()))
            for acc_id, text in values.items():
                key = SQL_METRICS.get(names.get(acc_id))
                if key:
                    sums[key] += parse_sql_metric(text)
        return out
