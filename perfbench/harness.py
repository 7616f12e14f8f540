"""Run context shared by the workloads: environment, Spark session
start-up (timed as set-up), report lines, failure counting and a clean
shutdown of every process the run started."""

from __future__ import annotations

import os
import shlex
import signal
import sys
import tempfile
import time
import traceback

from perfbench import host

DRIVER_MEM = "2g"


class Run:
    def __init__(self, work: str, workload: str, seed: int, seconds: int, trace: bool):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_id = f"{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}"
        self.cpus = host.nproc()
        self.lines: list[tuple[str, float, str, str]] = []
        self.details: dict = {}
        self.tracer = None  # the traced run's Tracer, written to the record
        self.host_before: dict = {}
        self.host_after: dict | None = None  # taken after the timed window
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.t0 = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the run began."""
        self.details.setdefault("phase_end_s", {})[phase] = time.perf_counter() - self.t0

    def put(self, name: str, value: float, unit: str, note: str = "") -> float:
        self.lines.append((name, value, unit, note))
        return value

    def value(self, name: str) -> float:
        return next(v for n, v, *_ in self.lines if n == name)

    def attempt(self, ok: bool, what: str) -> bool:
        """Count one operation; a failed or wrong one counts in fail_ratio."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    def guarded(self, what: str, fn, *args, **kwargs):
        """Run one operation; an exception counts it failed and returns None."""
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - the benchmark must finish and report
            traceback.print_exc(file=sys.stderr)
            self.attempt(False, f"{what}: raised")
            return None


def prepare_env(root: str, work: str, cpus: int) -> None:
    """Point every temporary and Spark directory into the run's work
    directory and make the package importable by Python workers."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # session.get_spark defaults to an 8 GiB driver heap. At 8 GiB the
    # JVM's adaptive heap sizing made query_mix's peak RSS vary by 0.26
    # of its median over ten seeds (the JVM alone 1.8-4.6 GiB); at 2 GiB
    # by 0.07-0.12, with the same pass times.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
            "pyspark-shell",
        ]
    )
    os.chdir(work)


def _warm(batches):
    import hortacloud_importer_spark.registry  # noqa: F401

    yield from batches


def start_session(run: Run):
    """Start Spark cold, as a user's process does: ``setup_s`` is
    get_spark, which launches the JVM, plus a warm-up job that starts
    every Python worker; ``session.start_s`` is get_spark alone."""
    from hortacloud_importer_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    n = run.cpus * 16
    warm = spark.range(n, numPartitions=run.cpus).mapInPandas(_warm, "id long")
    got = warm.count()
    t2 = time.perf_counter()
    if got != n:
        raise RuntimeError(f"warm-up job returned {got} rows, expected {n}")
    run.put("setup_s", t2 - t0, "s", "cold start: JVM launch, session, Python workers")
    run.put("session.start_s", t1 - t0, "s", "get_spark, JVM launch included")
    run.mark("setup")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every process the run
    started has exited."""
    from pyspark import SparkContext

    started = [p for p in host.process_tree(os.getpid()) if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of stdin
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate, then reap
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in started:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 10
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    if state == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True
