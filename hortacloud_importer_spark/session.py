"""SparkSession factory for local testing and benchmarking.

The production deployment would submit against a real cluster; the
settings here mirror what we'd set cluster-side: AQE on (runtime
re-planning, skew-join handling, partition coalescing), Arrow on
(vectorized pandas UDF transfer), and shuffle partitions sized to the
available parallelism rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "hortacloud-importer-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # SPARK_GRAFT_MASTER points the whole harness (oracle checks,
    # bench, CLI) at any master — e.g. local-cluster[2,8,4096] for
    # real-executor runs, or spark://... for a standalone cluster.
    # Non-local masters need the package on executors
    # (spark.executorEnv.PYTHONPATH below covers local-cluster; real
    # clusters ship it via --py-files / pip).
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default false: AQE refuses to re-plan the output partitioning
        # of a persisted plan, so every stage that reads or writes a
        # cached level (the octree/pyramid per-level persists) keeps the
        # full spark.sql.shuffle.partitions task count even when the
        # level holds 8 blocks. Enabling it lets AQE coalesce those
        # stages by actual bytes — scale-adaptive, not a local tune:
        # measured 6.9->3.5 s on vol_octree_build, 2.2->1.4 s on
        # vol_pyramid_throughput at sf0.1 (OPTIMIZATION_r14.md).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource readers (sources/datasource.py) prune chunk
        # partitions from pushed z/y/x range filters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            cpus if cpus != "*" else str(os.cpu_count() or 8),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local-cluster"):
        import hortacloud_importer_spark as _pkg

        repo = os.path.dirname(os.path.dirname(os.path.abspath(_pkg.__file__)))
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH", repo
        ).config("spark.executor.memory", os.environ.get("SPARK_GRAFT_EXEC_MEM", "2g"))
    return builder.getOrCreate()
