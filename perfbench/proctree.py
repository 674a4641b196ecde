"""Process-tree CPU and RSS read from ``/proc`` (``psutil`` is not installed).

The tree is every live descendant of a root pid: for a Spark run that is the
driver Python, the JVM it launched, the ``pyspark.daemon`` the JVM forked and
the Python workers the daemon forks, including workers spawned mid-pass.

CPU of the tree at an instant is the sum over live members of
``utime + stime + cutime + cstime``. A member that exits is reaped by its
parent, which is also a member, so its CPU moves into the parent's
``cutime``/``cstime`` and is never lost; a member that starts later simply
joins the sum. The difference of two readings is therefore the CPU the tree
spent between them.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage(root: int) -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over the tree.

    Field indices count from 0 at ``state`` (stat field 3): utime=11,
    stime=12, cutime=13, cstime=14, rss=21 (pages).
    """
    ticks = rss = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        rss += int(f[21]) * _PAGE
    return ticks / _CLK_TCK, rss


class RssSampler:
    """Background thread sampling the tree's summed RSS while resumed.

    ``peak`` is the largest sum seen since the last ``take_peak``. Sampling
    only while resumed keeps the untimed correctness checks between passes
    out of the peak.
    """

    def __init__(self, root: int, interval_s: float = 0.05) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.samples = 0
        self._lock = threading.Lock()
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.wait(self.interval_s) and not self._stop.is_set():
                rss = tree_usage(self.root)[1]
                with self._lock:
                    self.peak = max(self.peak, rss)
                    self.samples += 1
                self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def resume(self) -> None:
        self._active.set()

    def pause(self) -> None:
        self._active.clear()

    def take_peak(self) -> int:
        """The peak since the last call; starts a new one."""
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak

    def close(self) -> None:
        self._stop.set()
        self._active.set()  # wake a waiting loop so it sees the stop
        self._thread.join(timeout=5)

    def __enter__(self) -> RssSampler:
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.close()
