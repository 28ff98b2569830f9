"""Stage parser for a local Spark event log.

The harness enables ``spark.eventLog`` (uncompressed, not rolling) for
its traced session and sets ``spark.job.description`` around each call
into the engine. This module reads the JSON-lines log back and sums the
jobs, tasks, task time, CPU, GC, shuffle and spill of every job by its
description, so each layer's numbers come from Spark's own accounting.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class DescStats:
    """Totals over every job that ran under one job description."""

    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0  # summed task wall time (launch to finish)
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    intervals: list = field(default_factory=list)  # job (submit, end) in ms

    @property
    def busy_s(self) -> float:
        """Wall time covered by at least one running job."""
        total, end = 0, None
        for lo, hi in sorted(self.intervals):
            if end is None or lo > end:
                total += hi - lo
                end = hi
            elif hi > end:
                total += hi - end
                end = hi
        return total / 1000.0

    def add(self, other: "DescStats") -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.task_s += other.task_s
        self.cpu_s += other.cpu_s
        self.gc_s += other.gc_s
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        self.intervals += other.intervals


def parse(path: str) -> dict[str | None, DescStats]:
    """Per-description totals of one event-log file. Jobs that ran with
    no description are keyed by ``None``."""
    stage_desc: dict[int, str | None] = {}
    jobs: dict[int, tuple[str | None, int]] = {}
    out: dict[str | None, DescStats] = {}

    def stats(desc):
        return out.setdefault(desc, DescStats())

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                jobs[ev["Job ID"]] = (desc, ev["Submission Time"])
                for sid in ev.get("Stage IDs", []):
                    stage_desc.setdefault(sid, desc)
                stats(desc).jobs += 1
            elif kind == "SparkListenerJobEnd":
                desc, start = jobs.get(ev["Job ID"], (None, None))
                if start is not None:
                    stats(desc).intervals.append((start, ev["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                s = stats(stage_desc.get(ev["Stage ID"]))
                s.tasks += 1
                s.task_s += (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                s.cpu_s += (
                    m.get("Executor CPU Time", 0) + m.get("Executor Deserialize CPU Time", 0)
                ) / 1e9
                s.gc_s += m.get("JVM GC Time", 0) / 1000.0
                s.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                s.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return out


def combine(per_desc: dict, descs) -> DescStats:
    """Totals over several descriptions (e.g. every layer of one pass)."""
    total = DescStats()
    for d in descs:
        if d in per_desc:
            total.add(per_desc[d])
    return total
