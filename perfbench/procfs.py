"""Process-tree CPU and memory, host steal and load, read from ``/proc``.

The benchmark's process tree is the Python driver, the JVM it launches and
the Python workers the JVM forks. CPU is ``utime + stime`` of every live
member plus ``cutime + cstime`` (children already reaped into a member),
so a worker that exits between two readings still counts once.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    head, _, rest = raw.rpartition(")")
    return [head.partition("(")[2], *rest.split()]


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[2]), []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def group_members(pgid: int) -> list[int]:
    """Live (not zombie) processes of process group ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            # fields after comm: state=1 ppid=2 pgrp=3
            if st is not None and st[1] != "Z" and int(st[3]) == pgid:
                out.append(int(name))
    return out


def _is_python_worker(pid: int, root: int) -> bool:
    if pid == root:
        return False
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"python" in os.path.basename(cmd.split(b"\0", 1)[0])


def cpu(root: int) -> tuple[float, float]:
    """CPU seconds used so far by the tree under ``root``, and by its
    Python workers alone (every Python process below the driver)."""
    total = py = 0.0
    for pid in tree(root):
        st = _stat(pid)
        if st is None:
            continue
        # fields after comm: state=1 ppid=2 ... utime=12 stime=13 cutime=14 cstime=15
        s = sum(int(x) for x in st[12:16]) / _TICK
        total += s
        if _is_python_worker(pid, root):
            py += s
    return total, py


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split between
    the processes sharing them, so forked workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def rss_mb(root: int) -> float:
    """Resident memory of the tree under ``root`` now (summed PSS), in MB."""
    return sum(_pss_kb(pid) for pid in tree(root)) / 1e3


def host_times() -> tuple[int, int]:
    """(steal ticks, total ticks) of the host's aggregate ``cpu`` line."""
    with open("/proc/stat", "rb") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def load1() -> float:
    with open("/proc/loadavg", "rb") as f:
        return float(f.read().split()[0])


class PeakRss:
    """Samples the tree's resident memory on a thread while active; the
    peak is the largest sample."""

    def __init__(self, root: int, period_s: float = 0.1) -> None:
        self.root = root
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, rss_mb(self.root))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(self.root))
            self._stop.wait(self.period_s)
