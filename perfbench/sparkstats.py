"""Readers for Spark's own bookkeeping, called from outside the engine:
the status store (jobs, stages and task metrics of one job group) and
Catalyst's phase tracker of one query."""

from __future__ import annotations

import time

from py4j.protocol import Py4JJavaError

# a job group's job count and its stages' summed task metrics
GROUP_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_ms",
    "cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "input_rows",
)

CATALYST_PHASES = ("analysis", "optimization", "planning")


def group_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages and summed task metrics of every job that ran in
    ``group``. A stage reused from an earlier job is skipped and has
    no attempt of its own, so it is not counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(GROUP_COUNTERS, 0)
    stage_ids: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # the stage never ran
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["run_ms"] += st.executorRunTime()
        out["cpu_ms"] += st.executorCpuTime() / 1e6
        out["gc_ms"] += st.jvmGcTime()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["input_bytes"] += st.inputBytes()
        out["input_rows"] += st.inputRecords()
    return out


def job_durations(spark, group: str) -> list[float]:
    """Wall seconds, submission to completion, of each finished job
    that ran in ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        start, end = job.submissionTime(), job.completionTime()
        if start.isDefined() and end.isDefined():
            out.append((end.get().getTime() - start.get().getTime()) / 1000.0)
    return out


def plan_phases(df) -> tuple[float, dict[str, float]]:
    """Time ``executedPlan()`` of the DataFrame's own QueryExecution and
    read Catalyst's phase durations (ms) from its tracker."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.executedPlan()
    plan_s = time.perf_counter() - t0
    phases = qe.tracker().phases()
    out = {}
    for name in CATALYST_PHASES:
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return plan_s, out
