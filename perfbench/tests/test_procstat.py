"""Process-tree CPU and memory sums, on a fake /proc and on a live tree."""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

import procstat


def _fake_proc(root: Path, procs: dict[int, dict]) -> Path:
    """procs: pid -> {ppid, utime, stime, cutime, cstime, rss_pages, pss_kb}"""
    for pid, p in procs.items():
        d = root / str(pid)
        d.mkdir(parents=True)
        fields = ["S", str(p["ppid"])] + ["0"] * 9 + [
            str(p["utime"]), str(p["stime"]), str(p["cutime"]), str(p["cstime"]),
        ] + ["0"] * 6 + [str(p["rss_pages"])] + ["0"] * 20
        (d / "stat").write_text(f"{pid} (py thon) " + " ".join(fields) + "\n")
        if p.get("pss_kb") is not None:
            (d / "smaps_rollup").write_text(
                f"00400000-7fff [rollup]\nRss: 999 kB\nPss: {p['pss_kb']} kB\n")
    (root / "self").mkdir()  # non-numeric entries are skipped
    return root


def _tree(tmp_path: Path) -> Path:
    t = procstat.CLK_TCK
    return _fake_proc(tmp_path, {
        10: dict(ppid=1, utime=t, stime=t, cutime=0, cstime=0, rss_pages=100, pss_kb=400),
        11: dict(ppid=10, utime=2 * t, stime=0, cutime=3 * t, cstime=t, rss_pages=50, pss_kb=None),
        12: dict(ppid=11, utime=t, stime=0, cutime=0, cstime=0, rss_pages=10, pss_kb=40),
        20: dict(ppid=1, utime=50 * t, stime=0, cutime=0, cstime=0, rss_pages=9, pss_kb=9),
    })


def test_tree_pids_follows_parent_links(tmp_path):
    proc = _tree(tmp_path)
    assert sorted(procstat.tree_pids(10, proc)) == [10, 11, 12]
    assert procstat.tree_pids(12, proc) == [12]


def test_tree_cpu_sums_own_and_reaped_children_time(tmp_path):
    proc = _tree(tmp_path)
    # 10: 1+1, 11: 2+0+3+1, 12: 1 -> 9 s; pid 20 is outside the tree
    assert procstat.tree_cpu_seconds(10, proc) == 9.0


def test_tree_memory_uses_pss_and_falls_back_to_rss(tmp_path):
    proc = _tree(tmp_path)
    expected = 400 * 1024 + 50 * procstat.PAGE_SIZE + 40 * 1024
    assert procstat.tree_rss_bytes(10, proc) == expected


def test_live_tree_counts_child_cpu_and_memory():
    code = ("import time\nb = bytearray(200 * 2**20)\n"
            "for i in range(0, len(b), 4096): b[i] = 1\n"
            "t = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
            "time.sleep(0.5)\n")
    me = os.getpid()
    cpu0 = procstat.tree_cpu_seconds(me)
    with procstat.PeakRss(me, interval_s=0.05) as peak:
        child = subprocess.Popen([sys.executable, "-c", code])
        try:
            child.wait(timeout=30)
        finally:
            child.kill()
        time.sleep(0.05)
    # the child was reaped by this process, so its CPU moved to cutime
    assert procstat.tree_cpu_seconds(me) - cpu0 >= 0.4
    assert peak.peak >= 200 * 2**20
