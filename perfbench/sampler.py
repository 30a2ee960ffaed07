"""Process-tree accounting for the benchmark process and everything it
starts (the Spark JVM and its Python workers), read from ``/proc``.

* CPU: ``utime + stime + cutime + cstime`` summed over the live tree.
  A worker that exited was reaped by its parent, whose ``cutime`` /
  ``cstime`` then carry its CPU, so short-lived Python workers count.
* Memory: peak of the summed RSS of the live tree, sampled on a thread.
* Storage writes: ``write_bytes`` from ``/proc/<pid>/io`` (parquet
  tables, shuffle, spill and checkpoint files all land there).
* Host load: ``/proc/stat`` busy and steal over the same interval, so a
  run made while something else loaded the host labels itself.
"""

from __future__ import annotations

import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            txt = f.read()
    except OSError:
        return None
    # comm may hold spaces: the fields after it follow the last ')'
    return txt[txt.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _cpu_jiffies(pid: int) -> int:
    f = _stat_fields(pid)
    if f is None:
        return 0
    # utime stime cutime cstime are fields 14-17 (1-based); f starts at 3
    return sum(int(x) for x in f[11:15])


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _write_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _host_jiffies() -> tuple[int, int, int]:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    steal = v[7] if len(v) > 7 else 0
    return sum(v), sum(v) - idle, steal


class TreeSnapshot:
    def __init__(self, root: int) -> None:
        pids = tree_pids(root)
        self.t = time.monotonic()
        self.cpu_s = sum(_cpu_jiffies(p) for p in pids) / _HZ
        self.written = sum(_write_bytes(p) for p in pids)
        self.host = _host_jiffies()


class TreeMeter:
    """Accumulates CPU, storage writes, peak RSS and host load over the
    intervals between ``start()`` and ``stop()``; usable repeatedly so
    untimed work between operations stays out of the totals."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = root if root is not None else os.getpid()
        self.interval = interval
        self.cpu_s = 0.0
        self.written_bytes = 0
        self.peak_rss = 0
        self.wall_s = 0.0
        self._host = [0, 0, 0]
        self._t0: TreeSnapshot | None = None
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample_rss(self) -> None:
        while True:
            rss = sum(_rss_bytes(p) for p in tree_pids(self.root))
            self.peak_rss = max(self.peak_rss, rss)
            if self._stop.wait(self.interval):
                return

    def start(self) -> None:
        self._t0 = TreeSnapshot(self.root)
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample_rss, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        t1, t0 = TreeSnapshot(self.root), self._t0
        self.cpu_s += t1.cpu_s - t0.cpu_s
        self.written_bytes += t1.written - t0.written
        self.wall_s += t1.t - t0.t
        for k in range(3):
            self._host[k] += t1.host[k] - t0.host[k]

    def host_load(self) -> dict:
        """Host-wide busy and steal shares over the metered intervals, and
        the busy cores left after this process tree's own CPU — the
        contention that came from outside the benchmark."""
        total, busy, steal = self._host
        ncpu = os.cpu_count() or 1
        if total <= 0 or self.wall_s <= 0:
            return {"busy": 0.0, "steal": 0.0, "foreign_cores": 0.0}
        busy_cores = busy / total * ncpu
        own_cores = self.cpu_s / self.wall_s
        return {
            "busy": round(busy / total, 4),
            "steal": round(steal / total, 4),
            "foreign_cores": round(max(busy_cores - own_cores, 0.0), 3),
        }
