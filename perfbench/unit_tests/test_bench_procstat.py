"""/proc readers against a forked child of known CPU and memory use."""

import subprocess
import sys
import time

import procstat

BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < 1.0: pass\n"
HOLD = "import sys, time\nb = bytearray(200 << 20)\nsys.stdout.write('ready\\n'); sys.stdout.flush()\ntime.sleep(30)\n"


def test_tree_cpu_counts_a_busy_child_while_alive_and_after_reaping():
    before = procstat.cpu_seconds()
    child = subprocess.Popen([sys.executable, "-c", BUSY])
    try:
        time.sleep(0.5)
        assert child.pid in procstat.tree()
        assert procstat.cpu_seconds() - before >= 0.3
    finally:
        child.wait(timeout=30)
    assert child.pid not in procstat.tree()
    # the reaped child's time now sits in this process's cutime
    assert procstat.cpu_seconds() - before >= 0.95


def test_tree_rss_sums_the_child():
    base = procstat.rss_mb()
    child = subprocess.Popen([sys.executable, "-c", HOLD], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline() == "ready\n"
        assert procstat.rss_mb() - base >= 190
        assert procstat.peak_rss_mb() >= procstat.rss_mb() - 1
    finally:
        child.kill()
        child.wait(timeout=30)
