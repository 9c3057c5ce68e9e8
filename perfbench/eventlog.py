"""Read a Spark event log (uncompressed JSON lines) with the stdlib.

Only what the per-layer metrics need: per task its job group, stage,
duration, GC time, spill, shuffle bytes written and the Python-exec SQL
accumulators; per job its group and submission time. The traced run
points `spark.eventLog.dir` at its own work directory, so the UI can
stay off.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

# Python-exec SQL metrics as the event log names them
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"


@dataclass
class Task:
    stage: int
    group: str | None
    launch_ms: int
    finish_ms: int
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    accum: dict = field(default_factory=dict)  # SQL metric name → update

    @property
    def duration_ms(self) -> int:
        return self.finish_ms - self.launch_ms


@dataclass
class Job:
    id: int
    group: str | None
    submit_ms: int
    stages: list[int]


@dataclass
class EventLog:
    jobs: list[Job]
    tasks: list[Task]


def parse(lines) -> EventLog:
    """Parse event-log lines (any iterable of JSON strings)."""
    jobs: list[Job] = []
    tasks: list[Task] = []
    stage_group: dict[int, str | None] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job = Job(ev["Job ID"], group, ev["Submission Time"],
                      list(ev.get("Stage IDs", [])))
            jobs.append(job)
            for sid in job.stages:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            accum = {}
            for a in info.get("Accumulables", []):
                name, upd = a.get("Name"), a.get("Update")
                if name in (PY_SENT, PY_RETURNED, PY_RUN):
                    accum[name] = accum.get(name, 0) + int(upd)
            tasks.append(Task(
                stage=ev["Stage ID"],
                group=None,
                launch_ms=info["Launch Time"],
                finish_ms=info["Finish Time"],
                gc_ms=m.get("JVM GC Time", 0),
                spill_bytes=m.get("Disk Bytes Spilled", 0),
                shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                accum=accum,
            ))
    for t in tasks:
        t.group = stage_group.get(t.stage)
    return EventLog(jobs, tasks)


def read(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)


@dataclass
class GroupStats:
    gc_s: float = 0.0
    spill_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    python_mb_in: float = 0.0
    python_mb_out: float = 0.0
    python_s: float = 0.0
    task_skew: float = 0.0  # max/median task time of the group's heaviest stage


def _inside(ms: int, windows: list[tuple[float, float]]) -> bool:
    return any(lo * 1e3 <= ms <= hi * 1e3 for lo, hi in windows)


def group_stats(log: EventLog, groups: set[str],
                windows: list[tuple[float, float]]) -> GroupStats:
    """Totals over every task whose job group is in `groups` and that
    was launched inside one of the epoch-second `windows`."""
    out = GroupStats()
    by_stage: dict[int, list[Task]] = defaultdict(list)
    for t in log.tasks:
        if t.group not in groups or not _inside(t.launch_ms, windows):
            continue
        out.gc_s += t.gc_ms / 1e3
        out.spill_mb += t.spill_bytes / 1e6
        out.shuffle_write_mb += t.shuffle_write_bytes / 1e6
        out.python_mb_in += t.accum.get(PY_SENT, 0) / 1e6
        out.python_mb_out += t.accum.get(PY_RETURNED, 0) / 1e6
        out.python_s += t.accum.get(PY_RUN, 0) / 1e3
        by_stage[t.stage].append(t)
    if by_stage:
        heaviest = max(by_stage.values(),
                       key=lambda ts: sum(t.duration_ms for t in ts))
        durations = [t.duration_ms for t in heaviest]
        median = statistics.median(durations)
        out.task_skew = max(durations) / median if median > 0 else 1.0
    return out


def window_counts(log: EventLog, windows: list[tuple[float, float]]) -> tuple[int, int]:
    """(jobs, tasks) submitted or launched inside any of the epoch-second
    windows."""
    return (sum(1 for j in log.jobs if _inside(j.submit_ms, windows)),
            sum(1 for t in log.tasks if _inside(t.launch_ms, windows)))
