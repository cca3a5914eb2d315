"""CPU time and resident memory of this process's tree, read from /proc.

The tree is this process (the Spark application's Python side), its JVM child and
the JVM's Python workers. CPU counts each live process's own time plus the
time of children it has already reaped, so workers that exit between two
readings are not lost.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def cpu_seconds(pids: list[int] | None = None) -> float:
    """utime + stime + cutime + cstime summed over the tree."""
    total = 0
    for p in pids or tree_pids():
        f = _stat_fields(p)
        if f is not None:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def rss_bytes(pids: list[int] | None = None) -> int:
    total = 0
    for p in pids or tree_pids():
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds between
    ``start()`` and ``stop()``; ``peak`` is the largest sample in bytes."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pids = tree_pids()
        n = 0
        while True:
            self.peak = max(self.peak, rss_bytes(pids))
            if self._stop.wait(self.interval):
                return
            n += 1
            if n % 8 == 0:  # pick up workers started since the last scan
                pids = tree_pids()

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_bytes())
