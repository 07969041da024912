"""Layer probes for the benchmark: Spark job/stage counts, per-operator
sums from the SQL status store, the JVM's peak RSS, and host co-load
markers.

Everything here reads state the engine already keeps; nothing changes
how a query runs except the job-group tag set around it.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

#: SQL metric name -> benchmark layer. The values are summed over every
#: node and task of an execution, so they are task time (or bytes), not
#: wall time: four busy cores add four seconds per second.
SQL_LAYERS = {
    "scan time": "spark.scan_time_ms",
    "shuffle write time": "spark.shuffle_write_ms",
    "shuffle bytes written": "spark.shuffle_bytes",
    "fetch wait time": "spark.fetch_wait_ms",
    "time to collect": "spark.broadcast_collect_ms",
    "time to build": "spark.broadcast_build_ms",
    "time in aggregation build": "spark.agg_sort_join_ms",
    "sort time": "spark.agg_sort_join_ms",
    "time to build hash map": "spark.agg_sort_join_ms",
    "time to run python workers": "spark.python_eval_ms",
    "data sent to python workers": "spark.python_bytes_sent",
    "spill size": "spark.spill_bytes",
}

_UNITS = {
    "ms": 1.0,
    "s": 1e3,
    "m": 60e3,
    "h": 3600e3,
    "B": 1.0,
    "KiB": 2.0**10,
    "MiB": 2.0**20,
    "GiB": 2.0**30,
    "TiB": 2.0**40,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """A status-store metric string as a number in ms, bytes or units.

    Per-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is taken. Averages carry no total and give ``None``.
    """
    lines = text.strip().splitlines()
    if not lines:
        return None
    head = lines[0]
    if head.startswith("total"):
        if len(lines) < 2:
            return None
        head = lines[1]
    m = _VALUE.match(head)
    if m is None:
        return None
    unit = m.group(2)
    if unit and unit not in _UNITS:
        return None
    return float(m.group(1).replace(",", "")) * _UNITS.get(unit, 1.0)


class SqlStore:
    """Reads per-operator metrics of finished SQL executions. Works with
    ``spark.ui.enabled=false``: the status store is kept regardless."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def last_id(self) -> int:
        execs = self._store.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def layers_since(self, after_id: int) -> dict[str, float]:
        """Summed layer metrics over every execution with id > ``after_id``."""
        out: dict[str, float] = {}
        last = self.last_id()
        for eid in range(after_id + 1, last + 1):
            data = self._store.execution(eid)
            if data.isEmpty():
                continue
            # one JVM round trip each: SQLPlanMetric(name,accumulatorId,type)
            names = {}
            for line in data.get().metrics().mkString("\n").splitlines():
                m = re.match(r"SQLPlanMetric\((.*),(-?\d+),(\w+)\)$", line)
                if m and m.group(3) != "average":
                    names[m.group(2)] = m.group(1).lower()
            values = self._store.executionMetrics(eid).mkString("\x1e")
            for item in values.split("\x1e"):
                acc, _, text = item.partition(" -> ")
                layer = SQL_LAYERS.get(names.get(acc.strip(), ""))
                if layer is None:
                    continue
                v = parse_metric(text)
                if v is not None:
                    out[layer] = out.get(layer, 0.0) + v
        return out


@contextmanager
def job_group(spark, group: str | None):
    """Tag the jobs run inside with ``group`` (no-op for ``None``)."""
    if group is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setJobGroup("", "")


def jobs_and_stages(spark, group: str) -> tuple[int, int]:
    """Jobs and stages that ran under ``group`` (``statusTracker``)."""
    tracker = spark.sparkContext.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stages = 0
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages += len(info.stageIds)
    return len(job_ids), stages


def jvm_peak_rss_mb(spark) -> float:
    """The Spark JVM's high-water resident set (``VmHWM``), in MB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``, in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _busy(t0: list[int], t1: list[int]) -> float:
    d = [b - a for a, b in zip(t0, t1)]
    idle = d[3] + (d[4] if len(d) > 4 else 0)
    return 1.0 - idle / max(1, sum(d))


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_times` readings (a co-tenant load marker)."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(1, sum(d)) if len(d) > 7 else 0.0


def host_markers(window_s: float = 0.5) -> dict[str, float]:
    """Co-load markers: 1-minute load average and the busy share of all
    CPUs over a short window, read from ``/proc``."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    t0 = cpu_times()
    time.sleep(window_s)
    return {"load1": load1, "busy": _busy(t0, cpu_times())}


def cpu_count() -> int:
    """CPUs this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))
