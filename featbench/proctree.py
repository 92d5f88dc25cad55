"""CPU and resident memory of a whole process tree, read from /proc.

The tree of a PySpark driver is: the driver's Python process, the JVM
it launches, the ``pyspark.daemon`` the JVM forks, and the Python
workers the daemon forks. The workers are grandchildren of the JVM,
so the JVM's own counters never include a live worker's CPU. This
module walks every descendant and, for each live process, adds its
own CPU and the CPU of its children that it has already reaped
(``cutime``/``cstime``). A worker that exits between two readings
moves from its own counters into its parent's reaped counters, so the
difference of two readings is the tree's CPU in between.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime + cutime + cstime summed over ``pids``."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of proc(5), counted after the command name
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class TreeSampler:
    """Polls the tree's summed RSS on a daemon thread; ``window()``
    returns the peak since the previous call."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        rss = rss_bytes(descendants(self.root))
        with self._lock:
            self._peak = max(self._peak, rss)

    def cpu(self) -> float:
        return cpu_seconds(descendants(self.root))

    def window(self) -> int:
        """Peak summed RSS (bytes) since the last call; resets it."""
        self.sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak
