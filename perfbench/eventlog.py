"""Spark event-log reader for the traced run.

The benchmark turns the event log on itself (``spark.eventLog.*``) and
reads it after the session stops. Stages and tasks are keyed by
(application, stage id, stage attempt): stage ids restart at 0 in every
application, so a directory holding several applications' logs must not
merge them. Jobs are attributed to an operation by submission time, not
by job group, because jobs started from driver-side thread pools do not
inherit the caller's group.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Stage:
    submitted: int = 0
    tasks: int = 0
    task_ms: int = 0
    task_wait_ms: int = 0
    failed_tasks: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill_disk: int = 0


@dataclass
class Job:
    submitted: int
    completed: int = 0
    stages: list[tuple[str, int, int]] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: dict[tuple[str, int, int], Stage] = field(default_factory=dict)

    def window(self, start_ms: float, end_ms: float, cores: int) -> dict[str, float]:
        """Scheduler and task metrics of the jobs submitted in
        [start_ms, end_ms] (wall-clock milliseconds)."""
        jobs = [j for j in self.jobs if start_ms <= j.submitted <= end_ms]
        stages = {k for j in jobs for k in j.stages if k in self.stages}
        ran = [self.stages[k] for k in stages if self.stages[k].tasks]
        wall_ms = max(end_ms - start_ms, 1e-9)
        busy = _union(
            (max(j.submitted, start_ms), min(j.completed or end_ms, end_ms)) for j in jobs
        )
        task_ms = sum(s.task_ms for s in ran)
        return {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": sum(s.tasks for s in ran),
            "driver_gap_s": (wall_ms - busy) / 1000.0,
            "task_wait_s": sum(s.task_wait_ms for s in ran) / 1000.0,
            "core_busy_frac": task_ms / (wall_ms * cores),
            "failed_tasks": sum(s.failed_tasks for s in ran),
            "shuffle_write_bytes": sum(s.shuffle_write for s in ran),
            "shuffle_read_bytes": sum(s.shuffle_read for s in ran),
            "spill_disk_bytes": sum(s.spill_disk for s in ran),
        }


def _union(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def parse_lines(lines, log: EventLog | None = None, app: str = "") -> EventLog:
    """Fold one application's event-log lines into ``log``."""
    log = log or EventLog()
    jobs: dict[int, Job] = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue  # a log cut mid-line by a crash
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app = ev.get("App ID") or app
        elif kind == "SparkListenerJobStart":
            job = Job(ev["Submission Time"])
            job.stages = [(app, sid, 0) for sid in ev.get("Stage IDs", [])]
            jobs[ev["Job ID"]] = job
            log.jobs.append(job)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].completed = ev["Completion Time"]
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            key = (app, info["Stage ID"], info["Stage Attempt ID"])
            st = log.stages.setdefault(key, Stage())
            st.submitted = info.get("Submission Time") or st.submitted
            if key[2] > 0:
                # a retried stage belongs to the jobs that hold attempt 0
                for job in jobs.values():
                    if (app, key[1], 0) in job.stages and key not in job.stages:
                        job.stages.append(key)
        elif kind == "SparkListenerTaskEnd":
            key = (app, ev["Stage ID"], ev["Stage Attempt ID"])
            st = log.stages.setdefault(key, Stage())
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
            st.task_ms += max(finish - launch, 0)
            if st.submitted and launch:
                st.task_wait_ms += max(launch - st.submitted, 0)
            st.failed_tasks += bool(info.get("Failed"))
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            st.spill_disk += m.get("Disk Bytes Spilled", 0)
    return log


def load_dir(path: str) -> EventLog:
    """Read every application log in an event-log directory."""
    log = EventLog()
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isfile(full) and not name.startswith("."):
            with open(full) as fh:
                parse_lines(fh, log, app=name)
    return log
