"""Spark work counters per job group, read from the driver's status store.

Run the work under ``with job_group(spark, name):``, then read
``group_profile(spark, name)``: the jobs the group submitted and, over
the stages that ran, the stage count, completed tasks and shuffle bytes
(read plus written). Stages skipped because their shuffle output was
reused, or already evicted from the store, add nothing. Unlike
wall-clock, the counts repeat from run to run, except that AQE's runtime
re-planning can add or drop one job when a join's input stages finish in
a different order.
"""

from __future__ import annotations

from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


@contextmanager
def job_group(spark, group: str):
    """Run the ``with`` body's Spark jobs under job group ``group``; the
    thread leaves the group when the body ends."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def group_profile(spark, group: str) -> dict:
    """``{jobs, stages, tasks, shuffle_bytes}`` of job group ``group``,
    once the listener bus has delivered every event to the store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_bytes": 0}
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the store
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
    return out
