"""The /proc CPU and RSS reader, on a fake /proc tree and on this process."""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

from perfbench import procstat


def _stat(pid: int, comm: str, ppid: int, ticks: tuple[int, int, int, int], rss: int,
          state: str = "S") -> str:
    # fields 3..24 of /proc/<pid>/stat; utime..cstime are fields 14..17,
    # rss is field 24
    rest = [state, str(ppid)] + ["0"] * 9 + [str(t) for t in ticks] + ["0"] * 6 + [str(rss)]
    return f"{pid} ({comm}) " + " ".join(rest) + " 0 0\n"


@pytest.fixture()
def fake_proc(tmp_path):
    procs = {
        10: _stat(10, "python3", 1, (100, 20, 5, 1), 1000),
        11: _stat(11, "java) (x", 10, (400, 40, 0, 0), 5000),  # ')' in the name
        12: _stat(12, "python3", 11, (30, 3, 0, 0), 200),
        13: _stat(13, "other", 1, (999, 999, 0, 0), 9999),      # not in the tree
        14: _stat(14, "gone", 12, (1, 1, 0, 0), 0, state="Z"),
    }
    for pid, text in procs.items():
        (tmp_path / str(pid)).mkdir()
        (tmp_path / str(pid) / "stat").write_text(text)
    (tmp_path / "self").mkdir()
    return str(tmp_path)


def test_parse_stat_handles_parentheses_in_name():
    assert procstat.parse_stat(_stat(7, "a) (b", 3, (1, 2, 3, 4), 55)) == (3, 10, 55)


def test_tree_sums_only_descendants(fake_proc):
    tree = procstat.snapshot(10, fake_proc)
    assert sorted(tree) == [10, 11, 12, 14]
    assert procstat.tree_cpu_s(10, fake_proc) == pytest.approx(
        (126 + 440 + 33 + 2) / procstat.CLK_TCK)
    assert procstat.tree_rss_mb(10, fake_proc) == pytest.approx(
        6200 * procstat.PAGE_BYTES / 1e6)
    assert procstat.snapshot(99, fake_proc) == {}


def test_alive(fake_proc):
    assert procstat.alive(10, fake_proc)
    assert not procstat.alive(14, fake_proc)  # zombie
    assert not procstat.alive(99, fake_proc)


def test_live_child_cpu_and_rss_are_counted():
    before = procstat.tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt = time.time()\nwhile time.time() - t < 0.6: pass\n"
                              "time.sleep(5)"])
    try:
        time.sleep(1.0)
        assert child.pid in procstat.snapshot(os.getpid())
        assert procstat.tree_cpu_s(os.getpid()) - before >= 0.3
        with procstat.RssPeak(os.getpid(), interval_s=0.02) as peak:
            time.sleep(0.1)
        assert peak.peak_mb > 1.0
    finally:
        child.kill()
        child.wait(timeout=10)
    assert not procstat.alive(child.pid)
