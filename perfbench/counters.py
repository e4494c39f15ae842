"""Per-phase Spark counters read from the Spark driver's status store.

Every phase of every operation runs under its own job group
(``sc.setJobGroup``). In a traced run, ``phase_counters`` lists the
group's jobs with ``statusTracker().getJobIdsForGroup`` and sums the
stage metrics that ``statusStore().lastStageAttempt`` keeps for each of
their stages. None of this needs the web UI (``spark.ui.enabled=false``)
or its REST endpoint.

The status store retains a bounded number of jobs and stages, so a
traced run reads each operation's groups as soon as the operation ends.
"""

from __future__ import annotations

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)
MB = 1024.0 * 1024.0


def empty() -> dict[str, float]:
    return {k: 0 for k in COUNTERS}


def set_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def group_jobs(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def phase_counters(spark, group: str) -> dict[str, float]:
    """Sum of the stage metrics of every job in ``group``. Stages skipped
    because their shuffle output was reused ran no tasks and are not
    counted."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    out = empty()
    stage_ids: set[int] = set()
    for job_id in group_jobs(spark, group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # evicted or never submitted
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["executor_run_s"] += sd.executorRunTime() / 1e3
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
        out["spill_mb"] += (sd.diskBytesSpilled()) / MB
    return out


def add(into: dict[str, float], more: dict[str, float]) -> None:
    for k, v in more.items():
        into[k] = into.get(k, 0) + v
