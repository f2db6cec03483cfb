"""Spark event-log reader: per-job-group job, stage and task totals.

The traced run sets one job group per layer call (``spark.jobGroup.id``);
this module folds the JSON event log that Spark writes with
``spark.eventLog.enabled`` into one ``GroupStats`` per group.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    core_s: float = 0.0  # executor run time summed over tasks
    gc_s: float = 0.0
    spill_mb: float = 0.0  # memory + disk bytes spilled
    shuffle_mb: float = 0.0  # shuffle bytes written
    intervals: list[tuple[float, float]] = field(default_factory=list)  # job (start, end), epoch s

    def busy_s(self, start: float, end: float) -> float:
        """Seconds of [start, end] during which at least one job of the
        group was running."""
        busy, cursor = 0.0, start
        for s, e in sorted(self.intervals):
            s, e = max(s, cursor), min(e, end)
            if e > s:
                busy += e - s
                cursor = e
        return busy

    def gap_s(self, start: float, end: float) -> float:
        """Seconds of the span [start, end] with no job of the group running:
        driver-side planning, commits and barriers."""
        return (end - start) - self.busy_s(start, end)


_MB = 1024.0 * 1024.0


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Parse the single application log under ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                job_group[ev["Job ID"]] = group
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
                groups.setdefault(group, GroupStats()).jobs += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    groups[job_group[jid]].intervals.append(
                        (job_start[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                groups.setdefault(stage_group.get(sid, "none"), GroupStats()).stages += 1
            elif kind == "SparkListenerTaskEnd":
                g = groups.setdefault(stage_group.get(ev["Stage ID"], "none"), GroupStats())
                g.tasks += 1
                m = ev.get("Task Metrics") or {}
                g.core_s += m.get("Executor Run Time", 0) / 1000.0
                g.gc_s += m.get("JVM GC Time", 0) / 1000.0
                g.spill_mb += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / _MB
                g.shuffle_mb += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / _MB
                )
    return groups
