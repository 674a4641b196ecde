"""Tests for the /proc process-tree sampler.

Run: ``python -m pytest perfbench/test_proctree.py -q`` from the repo root.

A forked child burns a known amount of CPU and forks a grandchild that burns
more and exits mid-window, the way a Python worker does mid-pass; the tree
reading must account for both.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from proctree import RssSampler, tree_pids, tree_usage  # noqa: E402

BURN = (
    "import time\n"
    "def burn(s):\n"
    "    t = time.process_time()\n"
    "    while time.process_time() - t < s:\n"
    "        pass\n"
)

CHILD = BURN + (
    "import subprocess, sys\n"
    "g = subprocess.Popen([sys.executable, '-c', {grand!r}])\n"
    "burn({child_s})\n"
    "g.wait()\n"
    "print('reaped', flush=True)\n"
    "sys.stdin.read()\n"
)


def test_tree_cpu_counts_child_and_reaped_grandchild():
    child_s, grand_s = 0.6, 0.4
    burned = child_s + grand_s
    code = CHILD.format(grand=BURN + f"burn({grand_s})\n", child_s=child_s)
    cpu0 = tree_usage(os.getpid())[0]
    p = subprocess.Popen(
        [sys.executable, "-c", code], stdin=subprocess.PIPE, stdout=subprocess.PIPE
    )
    try:
        # the child has reaped the grandchild and is still alive
        assert p.stdout.readline() == b"reaped\n"
        members = len(tree_pids(os.getpid()))
        cpu_mid = tree_usage(os.getpid())[0] - cpu0
    finally:
        p.communicate(timeout=30)
    cpu_end = tree_usage(os.getpid())[0] - cpu0
    assert members == 2
    # interpreter start-up of the two Pythons adds a little on top
    assert burned <= cpu_mid <= burned + 0.6, cpu_mid
    # once we reap the child its CPU lands in our own cutime/cstime
    assert cpu_mid <= cpu_end <= burned + 0.6, cpu_end
    assert p.returncode == 0


def test_rss_sampler_sees_child_allocation():
    code = "import time\nb = bytearray(120 * 1024 * 1024)\ntime.sleep(1.0)\n"
    with RssSampler(os.getpid(), interval_s=0.02) as s:
        base = tree_usage(os.getpid())[1]
        s.resume()
        p = subprocess.Popen([sys.executable, "-c", code])
        p.wait(timeout=30)
        s.pause()
    assert p.returncode == 0
    assert s.samples > 0
    assert s.peak - base >= 100 * 1024 * 1024, (s.peak, base)


def test_paused_sampler_records_nothing():
    with RssSampler(os.getpid(), interval_s=0.01) as s:
        time.sleep(0.1)
    assert s.samples == 0 and s.peak == 0
