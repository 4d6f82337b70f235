"""Process-tree CPU, resident memory and hypervisor steal from /proc.

CPU of a tree is the sum, over its live processes, of user + system
time plus the time of children each has already reaped; so a Python
worker that the JVM's daemon forked and collected still counts. Steal
comes from the first line of /proc/stat and is box-wide: it is context
for wall-time outliers, never part of a CPU figure.
"""

from __future__ import annotations

import os
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ')'
    return s[s.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f:
                kids.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def cpu_s(pids: list[int]) -> float:
    """User + system seconds of ``pids`` and of the children they reaped."""
    ticks = 0
    for p in pids:
        f = _stat_fields(p)
        if f:
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / TICK


def rss_mb(pids: list[int]) -> float:
    pages = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            pass
    return pages * PAGE / 2**20


def memory(pids: list[int]) -> list[dict]:
    """Name, current and peak resident MiB of each process."""
    out = []
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                st = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        out.append(dict(pid=p, name=st["Name"].strip(),
                        rss_mb=int(st.get("VmRSS", "0 kB").split()[0]) / 1024,
                        hwm_mb=int(st.get("VmHWM", "0 kB").split()[0]) / 1024))
    return out


def steal_s() -> float:
    """Box-wide stolen CPU seconds since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / TICK


class Sampler:
    """Background sampler of the tree under ``root``: peak RSS, and on
    demand a (cpu, steal) reading for timing one op."""

    INTERVAL = 0.25  # seconds between RSS samples

    def __init__(self, root: int):
        self.root = root
        self.peak_rss_mb = 0.0
        self._pids = [root]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        n = 0
        while not self._stop.is_set():
            if n % 8 == 0:  # a fresh process list every ~2 s
                self._pids = tree(self.root)
            self.peak_rss_mb = max(self.peak_rss_mb, rss_mb(self._pids))
            n += 1
            self._stop.wait(self.INTERVAL)

    def reading(self) -> tuple[float, float, float]:
        """(wall, tree CPU, box steal) in seconds."""
        return time.perf_counter(), cpu_s(tree(self.root)), steal_s()

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
