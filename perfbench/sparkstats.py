"""Executor-side and Python-UDF-boundary numbers read from Spark's own
status stores, from outside the engine.

Both stores are populated with the UI disabled:
- ``sc.statusStore()`` (AppStatusStore): per-stage run time, CPU, GC,
  shuffle bytes and fetch wait;
- ``sharedState().statusStore()`` (SQLAppStatusStore): SQL metrics
  such as "time to run Python workers" and "scan time", which exist
  only as formatted strings ("8.9 s", "795.2 KiB", "100,000").

A ``Watermark`` taken before a region and ``delta()`` after it give
the region's totals. The default retention (1000 stages, jobs and
SQL executions) bounds one region's size, not the run's.
"""

from __future__ import annotations

import re

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

SQL_METRICS = {
    "time to run Python workers": "pyudf_run_s",
    "time to start Python workers": "pyudf_start_s",
    "time to initialize Python workers": "pyudf_start_s",
    "data sent to Python workers": "pyudf_bytes_sent",
    "data returned from Python workers": "pyudf_bytes_returned",
    "scan time": "scan_s",
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: the value on the line after a
    ``total (min, med, max ...)`` header, or the only value. Timings
    come back in seconds, sizes in bytes."""
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    m = _VALUE.match(lines[-1].strip())
    if m is None:
        raise ValueError(f"unparseable SQL metric {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    if unit:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return num


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Watermark:
    """Next job, stage and SQL execution ids at a point in time."""

    def __init__(self, spark) -> None:
        sched = spark.sparkContext._jsc.sc().dagScheduler()
        self.job = int(sched.nextJobId())
        self.stage = int(sched.nextStageId())
        self.execution = _next_execution_id(spark)


def jobs_since(spark, mark: Watermark) -> int:
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    return int(sched.nextJobId()) - mark.job


def _next_execution_id(spark) -> int:
    ids = [
        int(e.executionId())
        for e in _iter(spark._jsparkSession.sharedState().statusStore().executionsList())
    ]
    return max(ids) + 1 if ids else 0


def delta(spark, mark: Watermark) -> dict[str, float]:
    """Totals of every stage, job and SQL execution started since
    ``mark``: counts, executor seconds, shuffle bytes, and the
    Python-UDF and scan SQL metrics."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    out = {
        "jobs": float(jobs_since(spark, mark)),
        "stages": 0.0,
        "tasks": 0.0,
        "exec_run_s": 0.0,
        "exec_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_bytes": 0.0,
        "shuffle_write_bytes": 0.0,
        "shuffle_fetch_wait_s": 0.0,
    }
    quantiles = sc._gateway.new_array(jvm.double, 0)
    for st in _iter(store.stageList(None, False, False, quantiles, None)):
        if int(st.stageId()) < mark.stage:
            continue
        out["stages"] += 1
        out["tasks"] += int(st.numCompleteTasks()) + int(st.numFailedTasks())
        out["exec_run_s"] += int(st.executorRunTime()) / 1e3
        out["exec_cpu_s"] += int(st.executorCpuTime()) / 1e9
        out["gc_s"] += int(st.jvmGcTime()) / 1e3
        out["shuffle_read_bytes"] += int(st.shuffleReadBytes())
        out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
        out["shuffle_fetch_wait_s"] += int(st.shuffleFetchWaitTime()) / 1e3
    for key in set(SQL_METRICS.values()):
        out[key] = 0.0
    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in _iter(sql.executionsList()):
        eid = int(ex.executionId())
        if eid < mark.execution:
            continue
        values = sql.executionMetrics(eid)
        seen: set[int] = set()
        for m in _iter(ex.metrics()):
            key = SQL_METRICS.get(m.name())
            acc = int(m.accumulatorId())
            if key is None or acc in seen:
                continue
            seen.add(acc)
            v = values.get(acc)
            if v.isDefined():
                out[key] += parse_metric(v.get())
    return out
