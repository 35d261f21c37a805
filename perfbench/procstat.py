"""CPU time and resident memory of a process tree, read from ``/proc``.

The benchmark process starts the Spark JVM, which starts the Python worker
daemon and its workers; all of them burn the CPU a pass costs. ``psutil`` is
not available, so this module parses ``/proc/<pid>/stat`` and
``/proc/<pid>/statm`` directly.
"""

from __future__ import annotations

import os
import threading

PROC = "/proc"
CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def parse_stat(text: str) -> tuple[int, int, int]:
    """``(ppid, cpu_ticks, rss_pages)`` from one ``/proc/<pid>/stat`` line.

    cpu_ticks is utime + stime + cutime + cstime: the process's own CPU plus
    that of children it has already reaped, so a Python worker that exits
    mid-pass still counts. The command name (field 2) may hold spaces and
    parentheses, so fields are split after its last ``)``.
    """
    rest = text[text.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); field n sits at rest[n - 3]
    ppid = int(rest[1])
    ticks = sum(int(rest[i]) for i in (11, 12, 13, 14))
    rss_pages = int(rest[21])
    return ppid, ticks, rss_pages


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None  # the process ended between listing and reading


def snapshot(root_pid: int, proc: str = PROC) -> dict[int, tuple[int, int, int]]:
    """``{pid: (ppid, cpu_ticks, rss_pages)}`` for ``root_pid`` and every
    live descendant."""
    procs: dict[int, tuple[int, int, int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        text = _read(os.path.join(proc, name, "stat"))
        if text:
            procs[int(name)] = parse_stat(text)
    tree = {root_pid} if root_pid in procs else set()
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _, _) in procs.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return {pid: procs[pid] for pid in tree}


def alive(pid: int, proc: str = PROC) -> bool:
    """True while ``pid`` exists and has not exited (zombies count as ended)."""
    text = _read(os.path.join(proc, str(pid), "stat"))
    return bool(text) and text[text.rindex(")") + 2] != "Z"


def tree_cpu_s(root_pid: int, proc: str = PROC) -> float:
    """CPU seconds (user + sys) the tree rooted at ``root_pid`` has used."""
    return sum(t for _, t, _ in snapshot(root_pid, proc).values()) / CLK_TCK


def tree_rss_mb(root_pid: int, proc: str = PROC) -> float:
    """Summed resident memory of the tree, in MB."""
    pages = sum(r for _, _, r in snapshot(root_pid, proc).values())
    return pages * PAGE_BYTES / 1e6


class RssPeak:
    """Samples the tree's summed RSS on a background thread while active;
    ``peak_mb`` is the largest sample. Use as a context manager."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssPeak":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
