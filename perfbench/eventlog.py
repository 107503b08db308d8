"""Spark event-log reader: job, stage and task records grouped by the span
that started them.

The benchmark tags every Spark job with the span it runs under, through the
job group (one per timed operation) and the job description (the innermost
layer span open when the job started). Spark copies both into the
``Properties`` of each ``SparkListenerJobStart`` record, so a stage is
attributed to a span by the job that ran it.

Only uncompressed logs are read (``spark.eventLog.compress=false``): Spark 4
compresses with zstd by default and the Python standard library cannot read
that.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class Stage:
    stage_id: int
    job_id: int
    group: str
    span: str
    submit_ms: int = 0
    complete_ms: int = 0
    task_ms: list[int] = field(default_factory=list)
    executor_run_ms: int = 0
    spill_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0

    @property
    def wall_s(self) -> float:
        return max(0, self.complete_ms - self.submit_ms) / 1000.0


@dataclass
class Job:
    job_id: int
    group: str
    span: str


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: list[Stage]

    def in_group(self, group: str) -> "EventLog":
        """The jobs and stages of one timed operation."""
        jobs = {j: job for j, job in self.jobs.items() if job.group == group}
        return EventLog(jobs, [s for s in self.stages if s.group == group])

    def in_span(self, span: str) -> list[Stage]:
        return [s for s in self.stages if s.span == span]


def _task_bytes(metrics: dict, section: str, keys: tuple[str, ...]) -> int:
    sub = metrics.get(section) or {}
    return sum(int(sub.get(k, 0)) for k in keys)


def parse(lines) -> EventLog:
    """Read event-log lines into completed stages with their task totals.

    Skipped stages (never submitted) are absent; a stage attempt that was
    retried appears once per attempt that completed."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stages: dict[tuple[int, int], Stage] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id") or "",
                span=props.get("spark.job.description") or "",
            )
            jobs[job.job_id] = job
            for sid in ev.get("Stage IDs") or ():
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            job = jobs.get(stage_job.get(key[0], -1))
            stages[key] = Stage(
                stage_id=key[0],
                job_id=job.job_id if job else -1,
                group=job.group if job else "",
                span=job.span if job else "",
                submit_ms=int(info.get("Submission Time") or 0),
            )
        elif kind == "SparkListenerTaskEnd":
            st = stages.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
            m = ev.get("Task Metrics")
            if st is None or not m:
                continue
            ti = ev.get("Task Info") or {}
            st.task_ms.append(int(ti.get("Finish Time", 0)) - int(ti.get("Launch Time", 0)))
            st.executor_run_ms += int(m.get("Executor Run Time", 0))
            st.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(
                m.get("Disk Bytes Spilled", 0)
            )
            st.shuffle_read_bytes += _task_bytes(
                m, "Shuffle Read Metrics", ("Remote Bytes Read", "Local Bytes Read")
            )
            st.shuffle_write_bytes += _task_bytes(
                m, "Shuffle Write Metrics", ("Shuffle Bytes Written",)
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.get((info["Stage ID"], info.get("Stage Attempt ID", 0)))
            if st is not None:
                st.complete_ms = int(info.get("Completion Time") or 0)
    done = [s for s in stages.values() if s.complete_ms]
    return EventLog(jobs, sorted(done, key=lambda s: (s.submit_ms, s.stage_id)))


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def busy_s(stages: list[Stage]) -> float:
    """Length of the union of the stages' [submit, complete] intervals."""
    total = 0
    end = None
    for s in sorted(stages, key=lambda s: s.submit_ms):
        lo, hi = s.submit_ms, s.complete_ms
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total / 1000.0
