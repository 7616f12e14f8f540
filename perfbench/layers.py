"""Trace points shared by the workloads: Spark actions and the
layer-level summary of a pass.

Only driver-side entry points are wrapped; kernels that run inside
Python workers are timed separately by the octree roofline probe."""

from __future__ import annotations

import time

from perfbench import host
from perfbench.trace import Tracer, layer_self_times

_ACTIONS = ("count", "collect", "first", "take", "head", "toPandas")


def patch_spark_actions(tracer: Tracer) -> None:
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    for name in _ACTIONS:
        tracer.patch_attr(DataFrame, name, f"spark.{name}", "spark")
    tracer.patch_attr(DataFrameWriter, "save", "spark.save", "spark")


def spark_lines(run, stats: dict, wall_s: float) -> dict[str, float]:
    """Report one untraced pass's Spark accounting and return the
    per-layer metrics the two workloads share."""
    shuffle_mb = stats["shuffle_write_bytes"] / 2**20
    out = {
        "spark.jobs": run.put("spark.jobs", stats["jobs"], "count", "per pass"),
        "spark.stages": run.put(
            "spark.stages", stats["stages"], "count", "per pass, completed"
        ),
        "spark.tasks": run.put("spark.tasks", stats["tasks"], "count", "per pass"),
        "spark.shuffle_write_mb": run.put(
            "spark.shuffle_write_mb", shuffle_mb, "MiB", "per pass"
        ),
        "spark.executor_run_s": run.put(
            "spark.executor_run_s", stats["executor_run_s"], "s",
            "per pass, summed over tasks",
        ),
        "spark.in_job_s": run.put(
            "spark.in_job_s", stats["in_job_s"], "s",
            "per pass, union of job intervals",
        ),
        "driver.outside_job_s": run.put(
            "driver.outside_job_s", wall_s - stats["in_job_s"], "s",
            "per pass: planning, Python and scheduling gaps",
        ),
    }
    read_mb = stats["shuffle_read_bytes"] / 2**20
    run.put("spark.shuffle_read_mb", read_mb, "MiB", "per pass")
    run.put("spark.executor_cpu_s", stats["executor_cpu_s"], "s", "per pass")
    return out


SPAN_COST_CALLS = 20000


def span_cost_s() -> float:
    """Time one span adds to a call: a traced no-op minus a plain one."""

    def noop() -> None:
        return None

    traced = Tracer("calibration").wrap(noop, "noop", "benchmark")
    t0 = time.perf_counter()
    for _ in range(SPAN_COST_CALLS):
        noop()
    t1 = time.perf_counter()
    for _ in range(SPAN_COST_CALLS):
        traced()
    t2 = time.perf_counter()
    return max(0.0, (t2 - t1) - (t1 - t0)) / SPAN_COST_CALLS


def trace_lines(run, tracer: Tracer, pass_s: float) -> dict[str, float]:
    """Layer self times of the traced pass and the tracing overhead: the
    spans' own cost over the pass. A traced pass minus an untraced one is
    not used: in trial runs it read -0.11 to -0.005, pass-to-pass noise."""
    for layer, t in sorted(layer_self_times(tracer.spans).items()):
        run.put(f"self.{layer}_s", t, "s", "layer self time in the traced pass")
    cost = len(tracer.spans) * span_cost_s()
    return {
        "trace.overhead_share": run.put(
            "trace.overhead_share", cost / (pass_s - cost), "share",
            f"{len(tracer.spans)} spans x measured cost per span",
        ),
        "trace.spans": run.put("trace.spans", len(tracer.spans), "count"),
    }


def host_lines(run, cpu_s: float, wall_s: float, steal_s: float) -> dict[str, float]:
    """Host state right after the timed window; the snapshot is also the
    run record's ``host_after``."""
    snap = run.host_after = host.snapshot()
    run.put("host.steal_s", steal_s, "s", "during the timed window")
    run.put("host.nproc", run.cpus, "count")
    return {
        "host.cpu_busy_share": run.put(
            "host.cpu_busy_share", cpu_s / (wall_s * run.cpus), "share",
            "process-tree CPU-s / (wall x nproc) in the timed window",
        ),
        "host.calib_spin_s": run.put(
            "host.calib_spin_s", snap["calib_spin_sec"], "s", "bench.py's spin, best of 3"
        ),
        "host.loadavg_1m": run.put("host.loadavg_1m", snap["loadavg_1m"], "load"),
    }
