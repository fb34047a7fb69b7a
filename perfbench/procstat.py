"""CPU time and resident memory of this process tree, read from /proc.

The tree is the benchmark's Python driver, the Spark JVM it launched and
that JVM's Python workers.  CPU counts each process's own user+system
time plus that of its reaped children, so workers that exited inside a
measured interval still count once their parent has waited for them.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # exited between listing and reading
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from 'state' on


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User+system seconds of the tree, including reaped children."""
    total = 0
    for pid in tree_pids() if pids is None else pids:
        f = _stat_fields(pid)
        if f is not None:  # utime stime cutime cstime
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_rss_bytes() -> int:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds on a
    daemon thread between ``start()`` and ``stop()``; ``peak`` is the
    largest sample in bytes.  Each sample walks /proc while holding the
    GIL, so the interval is kept long enough not to slow the driver."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.interval):
                return

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())
        return self.peak
