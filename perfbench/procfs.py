"""CPU time and resident memory of this process tree, read from /proc.

The tree is this Python process, the Spark JVM it launched, and the
PySpark daemon and Python workers under that JVM.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may hold spaces: split after its closing parenthesis
    return data[data.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """`root` and all its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (a Python worker that exits is reaped by the daemon, so its time stays
    in the sum)."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("Pss:"))


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of the tree, as the sum of each process's
    proportional set size: a page shared by several processes (the Python
    workers are forked from one daemon) is split among them, so the sum
    counts it once. The JVM shares no pages with the rest of the tree, so
    its resident set size stands in for its PSS: reading its smaps_rollup
    walks the whole heap (~45 ms for 3 GB) and would load the run it
    measures."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                is_jvm = f.read().strip() == "java"
            total_kb += _rss_kb(pid) if is_jvm else _pss_kb(pid)
        except (OSError, StopIteration):  # exited, or no mappings left
            continue
    return total_kb / 1024


class PeakRss:
    """Samples the tree's resident memory on a background thread; use as a
    context manager and read `peak_mb` afterwards."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self):
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
