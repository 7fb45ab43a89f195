"""CPU time and resident memory of a process tree, read from /proc.

The benchmark's worker is a Python process that launches the Spark JVM,
which in turn forks the Python daemon and its UDF workers. CPU is summed over
the live tree, including the reaped children of each member (cutime and
cstime), so short-lived Python workers that the daemon or the JVM waited for
are counted too.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int, proc: Path) -> list[str] | None:
    try:
        raw = (proc / str(pid) / "stat").read_text()
    except OSError:
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int, proc: Path = Path("/proc")) -> list[int]:
    """`root` and all its descendants that are alive now."""
    children: dict[int, list[int]] = {}
    for entry in proc.iterdir():
        if not entry.name.isdigit():
            continue
        fields = _stat_fields(int(entry.name), proc)
        if fields is None:
            continue
        children.setdefault(int(fields[1]), []).append(int(entry.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_seconds(root: int, proc: Path = Path("/proc")) -> float:
    """utime + stime + cutime + cstime over the live tree, in seconds."""
    ticks = 0
    for pid in tree_pids(root, proc):
        fields = _stat_fields(pid, proc)
        if fields is not None:
            # after the ')': state=0 ppid=1 ... utime=11 stime=12 cutime=13
            # cstime=14 ... rss=21 (pages)
            ticks += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return ticks / CLK_TCK


def _pss_bytes(pid: int, proc: Path) -> int | None:
    try:
        text = (proc / str(pid) / "smaps_rollup").read_text()
    except OSError:
        return None
    for line in text.splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1]) * 1024
    return None


def tree_rss_bytes(root: int, proc: Path = Path("/proc")) -> int:
    """Resident memory of the tree. Forked Python workers share most of
    their pages with the daemon, so each process counts its proportional
    share (Pss); a process without smaps_rollup counts its plain RSS."""
    total = 0
    for pid in tree_pids(root, proc):
        pss = _pss_bytes(pid, proc)
        if pss is not None:
            total += pss
            continue
        fields = _stat_fields(pid, proc)
        if fields is not None:
            total += int(fields[21]) * PAGE_SIZE
    return total


class PeakRss:
    """Samples the tree's resident memory on a thread until stopped and
    keeps the peak. Use as a context manager around one operation."""

    def __init__(self, root: int, interval_s: float = 0.5,
                 proc: Path = Path("/proc")):
        self.root = root
        self.interval_s = interval_s
        self.proc = proc
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root, self.proc))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root, self.proc))
