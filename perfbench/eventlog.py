"""Spark event-log parser for the traced run.

Modelled on ``scripts/audit_aqe_stages.py:parse_event_log``, but keyed
by job group: the traced run sets one job group per operation and phase,
so every job, stage and task can be charged to the call that launched
it. Times in the log are epoch milliseconds.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field

#: counters summed per job group, in report order
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "task_s",
    "cpu_s",
    "gc_s",
    "shuffle_bytes",
    "spill_bytes",
)


@dataclass
class GroupStats:
    """What the jobs of one job group did."""

    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    #: (submit_ms, complete_ms) of every completed stage
    intervals: list[tuple[int, int]] = field(default_factory=list)


def event_lines(path: str) -> Iterator[str]:
    """Lines of one event log: a file, or a directory of logs (one per
    application, or Spark's rolling ``events_<n>_<app>`` parts)."""
    if os.path.isdir(path):
        # (length, name) orders events_2_<app> before events_10_<app>
        for name in sorted(os.listdir(path), key=lambda n: (len(n), n)):
            yield from event_lines(os.path.join(path, name))
    else:
        with open(path) as f:
            yield from f


def parse_event_log(
    lines: Iterable[str], classify: Callable[[str, int], str] | None = None
) -> dict[str, GroupStats]:
    """Per job group: job/stage/task counts, task, CPU and GC seconds,
    shuffle bytes written, disk spill bytes and stage intervals. Jobs
    without a group are charged to ``""``. ``classify(group, submit_ms)``
    may re-key a job, e.g. by the pipeline step running when it started."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}

    def group(name: str) -> GroupStats:
        return groups.setdefault(name, GroupStats())

    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if classify is not None:
                gid = classify(gid, ev.get("Submission Time", 0))
            group(gid).counters["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = gid
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = group(stage_group.get(info["Stage ID"], ""))
            g.counters["stages"] += 1
            sub, comp = info.get("Submission Time"), info.get("Completion Time")
            if sub and comp:
                g.intervals.append((sub, comp))
        elif kind == "SparkListenerTaskEnd":
            c = group(stage_group.get(ev.get("Stage ID"), "")).counters
            tm = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason", "Success") != "Success":
                c["failed_tasks"] += 1
            c["task_s"] += tm.get("Executor Run Time", 0) / 1e3
            c["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            c["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            c["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    return groups


def covered_ms(intervals: Iterable[tuple[int, int]], lo: int, hi: int) -> int:
    """Milliseconds of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
