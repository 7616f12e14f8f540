"""``query_mix``: registry queries over seeded fixture tables.

The mix is drawn from bench.py's HEADLINE list: every family it covers,
minus the queries that build their own stores or run over a second
each (listed in README.md). One closed-loop client runs the mix in a
seeded order per pass, clearing the SQL cache before each query as
bench.py does, and triggers each query with ``count()``.
"""

from __future__ import annotations

import gc
import os
import random
import time
from collections import defaultdict
from contextlib import nullcontext
from statistics import median

from perfbench import fixtures, host, layers, sparkstat
from perfbench.harness import Run, start_session
from perfbench.stats import percentile
from perfbench.trace import Tracer

MIX = (
    "agg_percentile", "agg_histogram",
    "filter_range",
    "join_inner", "join_anti",
    "win_rank",
    "set_union",
    "stream_tumbling",
    "vol_cascade",
    "q_ship_priority",
    "dedup_exact",
    "text_wordcount",
    "sim_topk",
    "mm_doc_bytes",
)
TABLE_SCALE = 0.25  # of sf0.1's row counts: 150,000 lineitem rows
MIN_PASSES = 3  # the median of three damps one slow pass; 42 calls resolve p75
FAMILIES = (
    ("agg_", "agg"), ("join_", "join"), ("win_", "window"),
    ("set_", "set"), ("filter_", "scan"),
    ("stream_", "stream"), ("vol_", "vol"), ("q_", "analytics"),
    ("dedup_", "dedup"), ("text_", "text"), ("sim_", "sim"), ("mm_", "mm"),
)


def family(name: str) -> str:
    return next(f for prefix, f in FAMILIES if name.startswith(prefix))


def _check_mix(names: tuple[str, ...]) -> None:
    import bench

    stray = [n for n in names if n not in bench.HEADLINE or n in bench.FULL_AGG]
    if stray:
        raise ValueError(f"not count-triggered HEADLINE queries: {stray}")


class Mix:
    def __init__(self, run: Run):
        self.run = run
        self.data = os.path.join(run.work, "tables")
        self.input_bytes = fixtures.write_tables(run.seed, self.data, TABLE_SCALE)
        self.rng = random.Random(run.seed)
        self.expected: dict[str, int] = {}
        self.counts: list[tuple[str, int]] = []  # rows of every count() run
        self.groups: dict[str, list[str]] = defaultdict(list)
        self.n_groups = 0  # job-group names stay unique after groups.clear()

    def check_pass(self, spark, specs) -> None:
        """Every query against its DuckDB oracle, or a row count when it
        has none. It runs before the timed passes and pays for the first
        execution of each query (imports, JIT compilation). The oracle is
        closed before the timed window."""
        from hortacloud_importer_spark.testing.compare import (
            compare_query,
            duckdb_connect,
        )

        con = duckdb_connect(self.data)
        check_s = self.run.details["check_s"] = {}
        try:
            for name in self.rng.sample(MIX, len(MIX)):
                spec = specs[name]
                t0 = time.perf_counter()
                if spec.oracle is None:
                    n = self.run.guarded(
                        name, lambda: spec.fn(spark, self.data).count()
                    )
                    if n is not None and self.run.attempt(n > 0, f"{name}: no rows"):
                        self.expected[name] = n
                else:
                    res = self.run.guarded(
                        name,
                        lambda: compare_query(
                            name, spec.fn(spark, self.data), con, spec.oracle
                        ),
                    )
                    if res is not None and self.run.attempt(res.ok, str(res)):
                        self.expected[name] = res.oracle_rows
                check_s[name] = time.perf_counter() - t0
        finally:
            con.close()

    def check_counts(self) -> None:
        """Every count() run must return the row count the check pass
        found."""
        for name, n in self.counts:
            want = self.expected.get(name)
            self.run.attempt(n == want, f"{name}: {n} rows, oracle has {want}")

    def one_pass(
        self, spark, specs, tracer: Tracer | None = None
    ) -> tuple[float, dict]:
        """All queries once in a seeded order; returns the pass wall time
        and per-query (build, action) seconds."""
        sc = spark.sparkContext
        times = {}
        t_pass = time.perf_counter()
        with tracer.span("pass", "benchmark") if tracer else nullcontext():
            for name in self.rng.sample(MIX, len(MIX)):
                spec = specs[name]
                spark.catalog.clearCache()
                group = f"{name}-{self.n_groups}"
                self.n_groups += 1
                self.groups[name].append(group)
                with sparkstat.job_group(sc, group):
                    t0 = time.perf_counter()
                    if tracer is None:
                        df = self.run.guarded(name, spec.fn, spark, self.data)
                    else:
                        with tracer.span(f"queries.{name}", "queries"):
                            df = self.run.guarded(name, spec.fn, spark, self.data)
                    t1 = time.perf_counter()
                    n = None if df is None else self.run.guarded(name, df.count)
                    t2 = time.perf_counter()
                if n is not None:
                    self.counts.append((name, n))
                times[name] = (t1 - t0, t2 - t1)
        return time.perf_counter() - t_pass, times


def run_query_mix(run: Run) -> dict[str, float]:
    _check_mix(MIX)
    w = Mix(run)
    run.put("input_mib", w.input_bytes / 2**20, "MiB", "parquet fixture tables")
    spark = start_session(run)
    from hortacloud_importer_spark.registry import all_queries

    specs = all_queries()
    t0 = time.perf_counter()
    w.check_pass(spark, specs)
    run.put(
        "check_pass_s", time.perf_counter() - t0, "s",
        "oracle pass, before the timed window; not in any metric above",
    )
    gc.collect()
    run.mark("check")
    # the check pass collects results; one count() pass more warms the
    # code paths the timed passes take (without it the first timed pass
    # ran 10-25% slower than the next)
    w.one_pass(spark, specs)
    w.groups.clear()
    run.mark("warm-up")
    passes, cpus, per_query = [], [], defaultdict(list)
    steal0, cpu0 = host.steal_s(), host.tree_cpu_s(os.getpid())
    # a traced run times one traced pass and stops
    tracer = _trace_points(run) if run.trace else None
    t0 = time.perf_counter()
    try:
        with host.RssSampler() as rss:
            while True:
                c0 = host.tree_cpu_s(os.getpid())
                wall, times = w.one_pass(spark, specs, tracer)
                cpus.append(host.tree_cpu_s(os.getpid()) - c0)
                passes.append(wall)
                for name, bt in times.items():
                    per_query[name].append(bt)
                if run.trace or (
                    len(passes) >= MIN_PASSES
                    and time.perf_counter() - t0 >= run.seconds
                ):
                    break
    finally:
        if tracer is not None:
            tracer.unpatch()
    window = time.perf_counter() - t0
    run.mark("timed")
    run.details["passes_s"] = passes
    cpu = host.tree_cpu_s(os.getpid()) - cpu0
    steal = host.steal_s() - steal0
    n = len(passes)
    calls = [b + a for samples in per_query.values() for b, a in samples]
    p50, p75 = percentile(calls, 0.5), percentile(calls, 0.75)
    metrics = {
        "setup_s": run.value("setup_s"),
        "pass_s": run.put(
            "pass_s", median(passes), "s", f"mix_pass_s, median of {n} passes"
        ),
        "peak_rss_mb": run.put(
            "peak_rss_mb", rss.peak_kb / 1024, "MiB",
            f"process tree, {rss.samples} samples",
        ),
    }
    run.put("query_p50_s", p50.value, "s", p50.describe())
    run.put("cpu_s", median(cpus), "s", "process-tree CPU time per pass, median")
    run.put("query_p75_s", p75.value, "s", p75.describe())
    by_family: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0])
    run.details["query_s"] = {
        name: [median([b for b, _ in s]), median([a for _, a in s])]
        for name, s in per_query.items()
    }
    for name, samples in per_query.items():
        fam = by_family[family(name)]
        fam[0] += sum(b for b, _ in samples) / n
        fam[1] += sum(a for _, a in samples) / n
    build_s = sum(f[0] for f in by_family.values())
    action_s = sum(f[1] for f in by_family.values())
    run.put("queries.build_s", build_s, "s", "per pass, inside spec.fn")
    run.put("queries.action_s", action_s, "s", "per pass, count()")
    for fam, (b, a) in sorted(by_family.items()):
        run.put(f"queries.build_s.{fam}", b, "s", "per pass")
        run.put(f"queries.action_s.{fam}", a, "s", "per pass")

    per_layer = {"session.start_s": run.value("session.start_s")}
    per_layer.update(layers.host_lines(run, cpu, window, steal))
    all_groups = [g for gs in w.groups.values() for g in gs]
    stats = sparkstat.group_stats(spark.sparkContext, all_groups)
    per_pass = {k: v / n for k, v in stats.items()}
    per_layer.update(layers.spark_lines(run, per_pass, median(passes)))
    if run.trace:
        per_layer.update(_traced(run, w, spark, tracer, passes[0]))
    w.check_counts()
    run.put("fail_ratio", run.failed / max(run.attempted, 1), "share")
    return per_layer if run.trace else metrics


def _trace_points(run: Run) -> Tracer:
    from hortacloud_importer_spark import catalog

    tracer = Tracer(run.run_id)
    pkg = "hortacloud_importer_spark"
    layers.patch_spark_actions(tracer)
    tracer.patch_function(catalog.table, "catalog.table", "catalog", pkg)
    tracer.patch_function(catalog.load, "catalog.load", "catalog", pkg)
    return tracer


def _traced(run: Run, w: Mix, spark, tracer: Tracer, pass_s: float) -> dict[str, float]:
    """Layer self times of the traced pass, its tracing overhead, shuffle
    bytes per family and the catalog scan."""
    from hortacloud_importer_spark import catalog

    shuffle: dict[str, float] = defaultdict(float)
    per_query = run.details["spark_per_query"] = {}
    for name, groups in w.groups.items():
        stats = per_query[name] = sparkstat.group_stats(spark.sparkContext, groups[-1:])
        shuffle[family(name)] += stats["shuffle_write_bytes"] / 2**20
    for fam, mb in sorted(shuffle.items()):
        run.put(f"spark.shuffle_write_mb.{fam}", mb, "MiB", "per pass")

    out = layers.trace_lines(run, tracer, pass_s)

    import pyarrow.parquet as pq

    tables = ("lineitem", "orders", "documents")
    t0 = time.perf_counter()
    counts = [df.count() for df in catalog.load(spark, w.data, *tables)]
    run.put(
        "catalog.scan_s", time.perf_counter() - t0, "s",
        "catalog.load + count of " + ", ".join(tables),
    )
    want = [pq.ParquetFile(f"{w.data}/{t}.parquet").metadata.num_rows for t in tables]
    run.attempt(counts == want, f"catalog counts {counts} != parquet rows {want}")
    run.tracer = tracer
    return out
