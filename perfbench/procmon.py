"""Background /proc sampler: peak summed RSS of the Spark JVM and its
Python workers, and the peak number of Python worker processes."""

from __future__ import annotations

import os
import threading

_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1024 * 1024)


def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids, from one pass over /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE_MB
    except OSError:
        return 0.0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


class ProcSampler:
    """Samples every ``interval`` seconds until ``stop()``: the JVM and
    every process below it (the PySpark daemon and its forked workers)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_rss_mb = 0.0
        self.peak_python_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        procs = descendants(os.getpid())
        python = [p for p in procs if _is_python(p)]
        self.peak_rss_mb = max(self.peak_rss_mb, sum(_rss_mb(p) for p in procs))
        self.peak_python_procs = max(self.peak_python_procs, len(python))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> ProcSampler:
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
