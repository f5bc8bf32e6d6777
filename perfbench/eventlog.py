"""Spark event-log parser: stage accumulables summed by job group.

Reads an uncompressed event log written with ``spark.eventLog.enabled``:
either one JSON-lines file, or a rolling directory
(``eventlog_v2_<app>/events_<n>_<app>``) whose parts are read in order.
Jobs map to their group through the ``spark.jobGroup.id`` property of
``SparkListenerJobStart``; stages map to the first job that lists them.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

# accumulable name -> (GroupStats field, scale to seconds or MB)
_ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1 / 2**20),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1 / 2**20),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1 / 2**20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1 / 2**20),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("python_sent_mb", 1 / 2**20),
    "data returned from Python workers": ("python_returned_mb", 1 / 2**20),
}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    single_task_stage_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python_init_s: float = 0.0
    python_run_s: float = 0.0
    python_sent_mb: float = 0.0
    python_returned_mb: float = 0.0

    def add(self, other: GroupStats) -> None:
        for name in self.__dataclass_fields__:
            setattr(self, name, getattr(self, name) + getattr(other, name))


@dataclass
class EventLog:
    groups: dict[str, GroupStats] = field(default_factory=lambda: defaultdict(GroupStats))

    def total(self, predicate) -> GroupStats:
        """Sum of every group whose id satisfies ``predicate``."""
        out = GroupStats()
        for gid, stats in self.groups.items():
            if predicate(gid):
                out.add(stats)
        return out


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` in write order: plain files, and
    the parts of each rolling ``eventlog_v2_*`` directory by index."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(re.match(r"events_(\d+)", p).group(1)))
            out.extend(os.path.join(path, p) for p in parts)
        elif not name.startswith(".") and not name.endswith(".inprogress.crc"):
            out.append(path)
    return out


def _events(log_dir: str):
    for path in event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def parse(log_dir: str) -> EventLog:
    log = EventLog()
    stage_group: dict[int, str] = {}
    # accumulator id -> (group, field, scale, largest value seen): an
    # SQL metric shared by several stages reports its running total in
    # each, so only its largest value counts
    accums: dict[int, tuple[str, str, float, float]] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            log.groups[gid].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, gid)
        elif kind == "SparkListenerTaskEnd":
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                log.groups[stage_group.get(ev.get("Stage ID"), "")].failed_tasks += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            gid = stage_group.get(info["Stage ID"], "")
            stats = log.groups[gid]
            stats.stages += 1
            stats.tasks += info.get("Number of Tasks", 0)
            if info.get("Number of Tasks") == 1 and "Completion Time" in info:
                stats.single_task_stage_s += (
                    info["Completion Time"] - info["Submission Time"]
                ) / 1e3
            for acc in info.get("Accumulables", []):
                target = _ACCUMULABLES.get(acc.get("Name"))
                if target is None:
                    continue
                value = float(acc.get("Value", 0))
                prev = accums.get(acc["ID"])
                if prev is None or value > prev[3]:
                    accums[acc["ID"]] = (gid, target[0], target[1], value)
    for gid, name, scale, value in accums.values():
        stats = log.groups[gid]
        setattr(stats, name, getattr(stats, name) + value * scale)
    return log
