"""What did this query run? One measurement of one query.

:func:`profile` builds a query, materializes it through the noop sink
(full column evaluation, no driver collect, no output IO) and reports
the wall time of each half plus what Spark ran for it: jobs, stages,
task counts and the stages' TaskMetrics sums.

The job and stage state comes from Spark's application status store,
which is kept with ``spark.ui.enabled=false`` (the UI's REST API reads
the same store). It is filled by the listener bus after an action
returns, so the bus is drained before reading — after the timer stops,
so the recorded times cover only the build and the write.

The stage sums are task time (or task bytes), not wall time: they add
up over every task of every stage, so four busy cores add four seconds
of ``executor_run_time_ms`` per second of wall time.
"""

from __future__ import annotations

import time
import uuid
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

#: profile field -> the status store's StageData getter it sums
STAGE_SUMS = {
    "spill_mem_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_write_time_ns": "shuffleWriteTime",
    "executor_run_time_ms": "executorRunTime",
}


def profile(spark: SparkSession, build: Callable[[], DataFrame]) -> dict:
    """Run ``build()`` and a noop write of the DataFrame it returns under
    a private job group, and return a plain dict:

    - ``build_s`` / ``exec_s``: wall seconds of ``build()`` (iterative
      operators run jobs here) and of the write;
    - ``jobs``: jobs of both halves; ``stages``: the summed stage count
      of those jobs (a shuffle stage a later job reuses counts again);
    - ``final_tasks`` / ``max_tasks``: task counts of the last stage and
      of the widest one (``None`` when no job ran);
    - the :data:`STAGE_SUMS` fields, summed once per distinct stage.

    An error from ``build()`` or the write propagates; the job group is
    cleared either way.
    """
    sc = spark.sparkContext
    group = f"profile-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    finally:
        sc._jsc.clearJobGroup()
    scala_sc = sc._jsc.sc()
    scala_sc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: list[int] = []
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.extend(info.stageIds)
    store = scala_sc.statusStore()
    sums = dict.fromkeys(STAGE_SUMS, 0)
    tasks: dict[int, int] = {}
    for sid in set(stage_ids):
        try:
            data = store.lastStageAttempt(sid)
        except Py4JJavaError:  # aged out of spark.ui.retainedStages
            continue
        tasks[sid] = data.numTasks()
        for field, getter in STAGE_SUMS.items():
            sums[field] += getattr(data, getter)()
    return {
        "build_s": t1 - t0,
        "exec_s": t2 - t1,
        "jobs": len(job_ids),
        "stages": len(stage_ids),
        "final_tasks": tasks[max(tasks)] if tasks else None,
        "max_tasks": max(tasks.values(), default=None),
        **sums,
    }
