"""CPU time and resident memory of a process tree, read from /proc.

The measured tree is the benchmark process itself (the Spark driver) with
every descendant (the driver JVM and its Python workers), minus excluded
subtrees such as the site server.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return data[data.rindex(")") + 2:].split()


def tree_pids(root: int, exclude: set[int]) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system time of ``pids`` and of their reaped children.  A
    process that exits between two readings is still counted once its
    parent reaps it, because its time moves into the parent's cutime."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def process_start_time() -> float:
    """Wall-clock time at which this process started."""
    st = _stat(os.getpid())
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + int(st[19]) / _TICK


class TreeSampler:
    """Polls the tree's resident memory while a timed run is in progress;
    ``stop()`` returns (cpu seconds used, peak resident bytes)."""

    def __init__(self, exclude: set[int], interval: float = 0.2):
        self.exclude = exclude
        self.interval = interval
        self._stop = threading.Event()
        self._peak = 0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def _sample(self) -> None:
        pids = tree_pids(os.getpid(), self.exclude)
        self._peak = max(self._peak, rss_bytes(pids))

    def start(self) -> "TreeSampler":
        self._cpu0 = cpu_seconds(tree_pids(os.getpid(), self.exclude))
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> tuple[float, int]:
        self._stop.set()
        self._thread.join()
        self._sample()
        cpu = cpu_seconds(tree_pids(os.getpid(), self.exclude)) - self._cpu0
        return cpu, self._peak
