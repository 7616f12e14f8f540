"""Host state and process-tree accounting from /proc.

Every run records steal, load, ``nproc`` and a calibration spin (read
with bench.py's helpers), so two runs that disagree show whether the
host or the code moved. RSS and CPU
time are summed over the benchmark's whole process tree: this
interpreter, the Spark JVM it launches and every Python worker the JVM
forks.
"""

from __future__ import annotations

import os
import threading


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """Cumulative hypervisor steal of all CPUs, in seconds (bench.py's
    reader; NaN where the kernel reports none)."""
    import bench

    steal = bench._read_steal_sec()
    return float("nan") if steal is None else steal


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return data[data.rfind(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kb(root: int) -> int:
    return sum(rss_kb(p) for p in process_tree(root))


def tree_cpu_s(root: int) -> float:
    """User + system CPU of the live tree plus that of children it has
    already reaped (cutime/cstime), in seconds."""
    ticks = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime stime cutime cstime
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the summed RSS of a process tree on a background thread
    and keeps the peak; use as a context manager around the window."""

    def __init__(self, interval: float = 0.2):
        self.root = os.getpid()
        self.interval = interval
        self.peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval):
                return

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, tree_rss_kb(self.root))
        self.samples += 1

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def snapshot() -> dict:
    """Host state: bench.py's fingerprint (load, governor, CPU count and
    its best-of-3 calibration spin), ``nproc`` and cumulative steal."""
    import bench

    return {**bench._host_fingerprint(), "nproc": nproc(), "steal_s": steal_s()}
