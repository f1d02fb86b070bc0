"""Host conditions and memory sampling, read from /proc.

Host conditions are diagnostics only: they let a record say what the
machine was doing while it was taken. Nothing is gated on them.
"""

from __future__ import annotations

import os
import platform
import threading
import time


def _cpu_jiffies() -> tuple[int, int] | None:
    """(total, steal) jiffies from the aggregate cpu line."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
    except OSError:
        return None
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted in user time
    return sum(vals[:8]), steal


def steal_pct(a: tuple[int, int] | None, b: tuple[int, int] | None
              ) -> float | None:
    if not a or not b or b[0] <= a[0]:
        return None
    return 100.0 * (b[1] - a[1]) / (b[0] - a[0])


def conditions(window_s: float = 0.25) -> dict:
    """nproc, CPU steal over a short window and the 1-minute load."""
    a = _cpu_jiffies()
    time.sleep(window_s)
    b = _cpu_jiffies()
    return {"nproc": nproc(), "steal_pct": steal_pct(a, b),
            "load_1m": os.getloadavg()[0], "jiffies": b}


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def versions(spark) -> dict:
    import numpy
    import pandas
    import pyarrow
    return {"spark": spark.version, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "pandas": pandas.__version__,
            "python": platform.python_version()}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its closing ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of a process tree (the Spark JVM and the
    Python workers it forks), sampled on a background thread: the
    largest sum over the tree of each process's proportional set size,
    so pages that forked workers share count once in total."""

    def __init__(self, root_pid: int, interval_s: float = 0.25):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        pids = [self.root_pid] + descendants(self.root_pid)
        self.peak_mb = max(self.peak_mb, sum(map(pss_kb, pids)) / 1024.0)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)
        self._sample()
