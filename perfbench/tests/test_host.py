import os
import subprocess
import sys
import time

from perfbench import host

CHILD = (
    "import sys, time\n"
    "buf = bytearray(64 * 2**20)\n"
    "for i in range(0, len(buf), 4096): buf[i] = 1\n"
    "print('ready', flush=True)\n"
    "sys.stdin.read()\n"
)


def spawn():
    proc = subprocess.Popen(
        [sys.executable, "-c", CHILD],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    assert proc.stdout.readline().strip() == "ready"
    return proc


def finish(proc):
    proc.stdin.close()
    proc.wait(timeout=30)
    assert proc.returncode == 0


def test_process_tree_includes_children():
    proc = spawn()
    try:
        tree = host.process_tree(os.getpid())
        assert tree[0] == os.getpid()
        assert proc.pid in tree
    finally:
        finish(proc)
    assert proc.pid not in host.process_tree(os.getpid())


def test_rss_sampler_sees_a_child_allocation():
    own = host.tree_rss_kb(os.getpid())
    proc = spawn()
    try:
        with host.RssSampler(interval=0.05) as rss:
            time.sleep(0.3)
    finally:
        finish(proc)
    assert rss.samples >= 2
    # the child touched 64 MiB on top of an interpreter of its own
    assert rss.peak_kb >= own + 64 * 1024
    assert host.rss_kb(os.getpid()) > 0


def test_rss_of_a_missing_process_is_zero():
    assert host.rss_kb(2**22 + 12345) == 0


BUSY = "import time\nwhile time.process_time() < 0.3: pass\n"


def test_tree_cpu_counts_reaped_children():
    before = host.tree_cpu_s(os.getpid())
    subprocess.run(
        [sys.executable, "-c", BUSY],
        check=True,
    )
    assert host.tree_cpu_s(os.getpid()) - before >= 0.2


def test_host_snapshot_fields():
    snap = host.snapshot()
    assert snap["nproc"] >= 1
    assert snap["steal_s"] >= 0
    assert snap["loadavg_1m"] >= 0
    assert snap["calib_spin_sec"] > 0
