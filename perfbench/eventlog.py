"""Reader for Spark's JSON event log.

The traced run turns the event log on and tags every Spark job it
starts with the local property ``TAG_PROPERTY`` (``epoch``, ``lookup``,
``probe.dedup`` ...). This module folds the log into per-job task
records so the run can report shuffle bytes, spill, GC, CPU time,
jobs and tasks per epoch and the task-time skew of a stage.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections.abc import Iterable
from dataclasses import dataclass, field

TAG_PROPERTY = "perfbench.op"


@dataclass
class Task:
    stage: int
    duration_ms: int
    cpu_ns: int
    gc_ms: int
    spill_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int


@dataclass
class Job:
    job_id: int
    tag: str | None
    stages: list[int]
    tasks: list[Task] = field(default_factory=list)


def _task(ev: dict) -> Task:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return Task(
        stage=int(ev["Stage ID"]),
        duration_ms=int(info.get("Finish Time", 0)) - int(info.get("Launch Time", 0)),
        cpu_ns=int(m.get("Executor CPU Time", 0)),
        gc_ms=int(m.get("JVM GC Time", 0)),
        spill_bytes=int(m.get("Memory Bytes Spilled", 0))
        + int(m.get("Disk Bytes Spilled", 0)),
        shuffle_read_bytes=int(sr.get("Remote Bytes Read", 0))
        + int(sr.get("Local Bytes Read", 0)),
        shuffle_write_bytes=int(sw.get("Shuffle Bytes Written", 0)),
    )


def parse(lines: Iterable[str]) -> list[Job]:
    """Fold event-log lines into jobs with their tasks, in job order.

    A stage that several jobs list is charged to the first of them;
    tasks of stages no job started (none in practice) are dropped."""
    jobs: dict[int, Job] = {}
    owner: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = int(ev["Job ID"])
            stages = [int(s) for s in ev.get("Stage IDs", [])]
            tag = (ev.get("Properties") or {}).get(TAG_PROPERTY)
            jobs[jid] = Job(jid, tag, stages)
            for s in stages:
                owner.setdefault(s, jid)
        elif kind == "SparkListenerTaskEnd":
            t = _task(ev)
            if t.stage in owner:
                jobs[owner[t.stage]].tasks.append(t)
    return [jobs[j] for j in sorted(jobs)]


def log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``: a plain ``<app id>`` file, or
    the ``events_<n>_<app id>`` parts of a rolling log, in write order."""
    out = []
    for dirpath, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith(".") or n.startswith("appstatus"):
                continue
            m = re.match(r"events_(\d+)_", n)
            out.append((int(m.group(1)) if m else 0, os.path.join(dirpath, n)))
    return [p for _, p in sorted(out)]


def read_dir(log_dir: str) -> list[Job]:
    def lines():
        for p in log_files(log_dir):
            with open(p) as fh:
                yield from fh

    return parse(lines())


def tagged(jobs: list[Job], tag: str) -> list[Job]:
    return [j for j in jobs if j.tag == tag]


def tasks_of(jobs: list[Job]) -> list[Task]:
    return [t for j in jobs for t in j.tasks]


def reduce_stage_skew(jobs: list[Job]) -> float:
    """max / median task time of the shuffle-reading stage with the most
    tasks in ``jobs`` (1.0 when there is no such stage)."""
    by_stage: dict[int, list[Task]] = {}
    for t in tasks_of(jobs):
        if t.shuffle_read_bytes > 0:
            by_stage.setdefault(t.stage, []).append(t)
    if not by_stage:
        return 1.0
    tasks = max(by_stage.values(), key=len)
    times = [max(t.duration_ms, 1) for t in tasks]
    return max(times) / statistics.median(times)
