from __future__ import annotations

import os
import subprocess
import sys
import time

from perfbench import procstat

BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"


def _comms(pid: int) -> list[str]:
    out = []
    for child in procstat.process_tree(pid)[1:]:
        try:
            with open(f"/proc/{child}/comm") as f:
                out.append(f.read().strip())
        except OSError:
            pass
    return out


def test_cpu_of_reaped_children_is_counted():
    """A child that burns CPU and is reaped still shows in its parent's
    tree CPU."""
    shell = subprocess.Popen(
        ["/bin/sh", "-c", f"{sys.executable} -c '{BUSY}'; sleep 30"],
    )
    try:
        deadline = time.monotonic() + 20
        while _comms(shell.pid) != ["sleep"] and time.monotonic() < deadline:
            time.sleep(0.05)
        assert _comms(shell.pid) == ["sleep"]  # the busy child was reaped
        assert procstat.tree_cpu_s(shell.pid) >= 0.25
    finally:
        shell.kill()
        shell.wait(timeout=10)


def test_peak_rss_of_own_process():
    with procstat.PeakRss(os.getpid(), interval_s=0.005) as rss:
        block = bytearray(64 * 2**20)
        block[:: 4096] = b"x" * len(block[:: 4096])
        time.sleep(0.05)
    assert rss.peak >= 64 * 2**20
    del block


def test_host_state():
    host = procstat.host_state()
    assert host["nproc"] >= 1
    assert host["mem_available_mb"] > 0
    assert host["load1"] >= 0
