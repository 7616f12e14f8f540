#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload octree_build --seed 1 --seconds 15 --trace 0

Run from a checkout of the repository. Every metric is printed as a
``name = value unit`` line; the last stdout line is one JSON object
with the metrics BENCHMARK.json lists (end-to-end ones with
``--trace 0``, per-layer ones with ``--trace 1``). Inputs are generated
from ``--seed`` under ``.perfbench_work/`` in the checkout, which is
removed afterwards except for the run's record in
``.perfbench_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    package = os.path.join(ROOT, "hortacloud_importer_spark", "__init__.py")
    if not os.path.isfile(package):
        print(
            f"perfbench: no hortacloud_importer_spark package under {ROOT}",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness, host, metrics
    from perfbench.octree_workload import run_octree
    from perfbench.query_workload import run_query_mix

    workloads = {"octree_build": run_octree, "query_mix": run_query_mix}
    spec = metrics.Spec.load(os.path.join(ROOT, "BENCHMARK.json"))
    if args.workload not in spec.workloads or args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    run = harness.Run(work, args.workload, args.seed, args.seconds, bool(args.trace))
    run.host_before = host.snapshot()
    harness.prepare_env(ROOT, work, run.cpus)
    t0 = time.perf_counter()
    try:
        values = workloads[args.workload](run)
    finally:
        from pyspark.sql import SparkSession

        harness.shutdown(SparkSession.getActiveSession())
        os.chdir(ROOT)
        record = _write_record(base, run)
        shutil.rmtree(work, ignore_errors=True)
    for name, value, unit, note in run.lines:
        print(f"{name} = {value:.6g} {unit}" + (f"  ({note})" if note else ""))
    print(f"run_s = {time.perf_counter() - t0:.3f} s  (record: {record})")
    for problem in run.problems:
        print(f"FAILED: {problem}")
    print(
        metrics.result_line(
            spec, run.trace, values, run.failed == 0, run.attempted, run.failed
        )
    )
    return 0


def _write_record(base: str, run) -> str:
    """The run's report lines, host state and spans, as one JSON file."""
    from dataclasses import asdict

    from perfbench import host

    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    path = os.path.join(base, "records", f"{run.run_id}.json")
    doc = {
        "run_id": run.run_id,
        "host_before": run.host_before,
        "host_after": run.host_after or host.snapshot(),
        "lines": [
            {"name": n, "value": v, "unit": u, "note": note}
            for n, v, u, note in run.lines
        ],
        "problems": run.problems,
        "details": run.details,
        "spans": [asdict(s) for s in run.tracer.spans] if run.tracer else [],
    }
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
    return os.path.relpath(path, ROOT)


if __name__ == "__main__":
    sys.exit(main())
