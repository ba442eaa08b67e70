"""Readers over Spark's own status stores, used by the traced run.

Jobs and stages come from ``statusTracker()`` and the core
``AppStatusStore``; the Python execs' metrics come from the SQL status
store (``sharedState().statusStore()``), whose per-node values only
exist as formatted strings, so they are parsed back to numbers here.
Call :func:`drain` before reading: the listener bus is asynchronous.
"""

from __future__ import annotations

import re
from collections import defaultdict

_SCALE = {
    "": 1.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NODE = re.compile(r'label="(?:<br>)*<b>([^<]*)</b>(?:<br>)*([^"]*)"')

#: Python-exec metric name -> per-layer metric name.
PYTHON_METRICS = {
    "time to start Python workers": "udf.worker_start_s",
    "time to initialize Python workers": "udf.worker_init_s",
    "time to run Python workers": "udf.worker_run_s",
    "data sent to Python workers": "udf.bytes_to_python",
    "data returned from Python workers": "udf.bytes_from_python",
    "number of output rows": "udf.rows",
}


def drain(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def metric_value(text: str) -> float:
    """A formatted SQL metric ("1.2 s", "15.9 KiB", "60,000", or a
    multi-task "total (min, med, max ...)" block) as a number in
    seconds, bytes or count."""
    if "total (" in text:
        text = re.split(r"\\n|\n|&#10;", text, maxsplit=1)[-1]
    num, _, unit = text.split(" (")[0].strip().partition(" ")
    return float(num.replace(",", "")) * _SCALE[unit]


def python_exec_metrics(dot: str) -> dict[str, float]:
    """Sum the Python metrics of every plan node in a ``makeDotFile``
    rendering that reports Python-worker time."""
    out: dict[str, float] = defaultdict(float)
    for _name, body in _NODE.findall(dot):
        fields = dict(f.split(": ", 1) for f in body.split("<br>") if ": " in f)
        if "time to run Python workers" not in fields:
            continue
        for src, dst in PYTHON_METRICS.items():
            if src in fields:
                out[dst] += metric_value(fields[src])
    return out


class StatusReader:
    """Per-job-group views over one session's status stores."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def stage_totals(self, job_ids) -> dict[str, float]:
        """Stage metrics summed over the stages that ran for ``job_ids``
        (skipped stages did no work and are not counted)."""
        store = self._jsc.statusStore()
        tot: dict[str, float] = defaultdict(float)
        seen = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["spark.stages"] += 1
                tot["spark.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                tot["spark.task_run_s"] += sd.executorRunTime() / 1e3
                tot["spark.task_cpu_s"] += sd.executorCpuTime() / 1e9
                tot["spark.gc_s"] += sd.jvmGcTime() / 1e3
                tot["io.scan_bytes"] += sd.inputBytes()
                tot["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                tot["spark.spill_bytes"] += sd.diskBytesSpilled()
        return tot

    def python_metrics_by_job(self) -> dict[int, dict[str, float]]:
        """Python-exec metrics of every SQL execution that has Python
        nodes, keyed by each job the execution ran (one entry per
        execution, under its lowest job id)."""
        out = {}
        for ex in self._conv.asJava(self._sql.executionsList()):
            job_ids = sorted(int(j) for j in self._conv.asJava(ex.jobs()).keySet())
            if not job_ids:
                continue
            eid = ex.executionId()
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            if "Python workers" in dot:
                out[job_ids[0]] = python_exec_metrics(dot)
        return out

    def storage_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo())
