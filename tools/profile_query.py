#!/usr/bin/env python
"""Per-job/stage profile of registry queries (optimization harness).

Runs each named query with the bench trigger under its own job group,
then dumps every Spark job/stage it spawned (duration, shuffle bytes,
task count) from the driver's status store, which Spark keeps even
with the web UI disabled. Usage:

    python tools/profile_query.py <name> [name...]

Env: SPARK_GRAFT_SF_DIR (default sf0.1), plus the session settings
session.get_spark reads (SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM, ...).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _print_jobs(sc, group: str) -> None:
    # the status store is filled by the listener bus asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    tot_stage_ms = 0
    for job_id in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(job_id)
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            d = (
                job.completionTime().get().getTime()
                - job.submissionTime().get().getTime()
            ) / 1e3
            dur = f"{d:7.3f}s"
        else:
            dur = "      ?"
        print(f"  job {job_id:>4} {dur}  tasks={job.numCompletedTasks():>4}")
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            s = store.lastStageAttempt(sid)
            if str(s.status()) != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            ms = s.executorRunTime()
            tot_stage_ms += ms
            srb = s.shuffleReadBytes() / 1048576
            swb = s.shuffleWriteBytes() / 1048576
            inb = s.inputBytes() / 1048576
            nm = s.name()[:70]
            print(
                f"    stage {sid:>4} exec={ms/1000.0:7.3f}s tasks={s.numCompleteTasks():>4}"
                f" in={inb:8.1f}M sr={srb:8.1f}M sw={swb:8.1f}M  {nm}"
            )
    print(
        f"  total executor run time: {tot_stage_ms/1000.0:.3f}s"
        f" (x{sc.defaultParallelism} cores)"
    )


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: profile_query.py <query> [query...]")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from hortacloud_importer_spark.registry import all_queries
    from hortacloud_importer_spark.session import get_spark

    spark = get_spark("profile-query")
    specs = all_queries()
    sc = spark.sparkContext

    # warm JVM + parquet footers
    bench._trigger(specs[names[0]].fn(spark, sf_dir), names[0])

    for name in names:
        group = f"profile:{name}"
        sc.setJobGroup(group, group)
        t0 = time.time()
        bench._trigger(specs[name].fn(spark, sf_dir), name)
        wall = time.time() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        print(f"\n=== {name}: wall {wall:.3f}s, {n_jobs} jobs ===")
        _print_jobs(sc, group)


if __name__ == "__main__":
    main()
