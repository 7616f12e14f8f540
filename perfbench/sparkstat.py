"""Spark-side accounting, read per operation under one job group each.

Job, stage and task counts come from ``statusTracker``; shuffle bytes,
executor run time and job wall intervals from the driver's status
store, which Spark keeps even with the web UI disabled.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from perfbench.trace import covered


@contextmanager
def job_group(sc, group: str) -> Iterator[None]:
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _drain_listener_bus(sc) -> None:
    # the status store is filled by the listener bus asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def group_stats(sc, groups: list[str]) -> dict:
    """Totals over the jobs run under ``groups``."""
    _drain_listener_bus(sc)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
    }
    intervals: list[tuple[float, float]] = []
    seen_stages: set[int] = set()
    for group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            job = store.job(job_id)
            out["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append(
                    (
                        job.submissionTime().get().getTime() / 1e3,
                        job.completionTime().get().getTime() / 1e3,
                    )
                )
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                stage = store.lastStageAttempt(sid)
                if str(stage.status()) != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks()
                out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                out["shuffle_read_bytes"] += stage.shuffleReadBytes()
                out["executor_run_s"] += stage.executorRunTime() / 1e3
                out["executor_cpu_s"] += stage.executorCpuTime() / 1e9
    out["in_job_s"] = covered(intervals, float("-inf"), float("inf"))
    return out
