"""Fold an uncompressed Spark event log per job group.

The benchmark tags every call into the engine with a job group named
``<op>#<pass>#<phase>``. Spark records the group in the properties of each
``SparkListenerJobStart``; stages and tasks inherit it through the job's
stage ids. ``fold`` sums, per group, the jobs, stages and tasks, the task
metrics, and the wall-clock spans of jobs and tasks, from which
``busy_gap_ms`` derives the time a job was running but no task was.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable
from dataclasses import dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_ms",
    "task_cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_ms: int = 0
    task_cpu_ms: float = 0.0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    job_spans: list[tuple[int, int]] = field(default_factory=list)
    task_spans: list[tuple[int, int]] = field(default_factory=list)


def fold(lines: Iterable[str]) -> dict[str, GroupStats]:
    """Per-group totals over the event-log ``lines`` (one JSON event each).
    Jobs without a job group are ignored."""
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, int]] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out[group].jobs += 1
            job_start[ev["Job ID"]] = (group, ev["Submission Time"])
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_start:
                group, submitted = job_start.pop(ev["Job ID"])
                out[group].job_spans.append((submitted, ev["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                out[group].stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            g = out[group]
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            shuffle_read = m.get("Shuffle Read Metrics") or {}
            g.tasks += 1
            g.task_spans.append((info["Launch Time"], info["Finish Time"]))
            g.task_run_ms += m.get("Executor Run Time", 0)
            g.task_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            g.gc_ms += m.get("JVM GC Time", 0)
            g.shuffle_read_bytes += shuffle_read.get("Remote Bytes Read", 0) + shuffle_read.get(
                "Local Bytes Read", 0
            )
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return dict(out)


def covered_ms(spans: Iterable[tuple[int, int]]) -> int:
    """Length of the union of ``[start, end)`` spans."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(spans):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def merge(groups: Iterable[GroupStats]) -> GroupStats:
    """Sum several groups into one."""
    total = GroupStats()
    for g in groups:
        for name in COUNTERS:
            setattr(total, name, getattr(total, name) + getattr(g, name))
        total.job_spans.extend(g.job_spans)
        total.task_spans.extend(g.task_spans)
    return total


def busy_gap_ms(g: GroupStats) -> int:
    """Time at least one of the group's jobs ran while none of its tasks did."""
    return covered_ms(g.job_spans) - covered_ms(g.task_spans)


def read_logs(paths: Iterable[str]) -> dict[str, GroupStats]:
    """Fold several event-log files; a group appears in one file only."""
    out: dict[str, GroupStats] = {}
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            out.update(fold(fh))
    return out
