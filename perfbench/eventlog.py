"""Fold a Spark event log into per-phase engine counters (stdlib ``json``).

The benchmark tags every phase it runs with ``spark.jobGroup.id`` set to
``<workload>/<op>/<phase>``. This module reads the uncompressed, non-rolling
JSON-lines event log Spark writes with ``spark.eventLog.enabled`` and sums,
per job group, what the engine did for it:

* ``SparkListenerJobStart`` / ``SparkListenerJobEnd``: job count and the
  submitted-to-completed interval of each job;
* ``SparkListenerTaskEnd``: task count, run/CPU/GC time, shuffle bytes,
  disk spill bytes, input/output bytes, failed tasks and per-stage task
  times (for the skew ratio).

Usage::

    groups = parse_event_log(path)          # group id -> GroupStats
    total = merge(g for k, g in groups.items() if k.endswith("/action"))
"""

from __future__ import annotations

import json
import statistics
from collections.abc import Iterable
from dataclasses import dataclass, field, fields

MB = float(1 << 20)


@dataclass
class GroupStats:
    """What the engine did for one job group (or a merge of several)."""

    jobs: int = 0
    #: (submitted, completed) of each job, epoch milliseconds
    job_intervals: list = field(default_factory=list)
    tasks: int = 0
    failed_tasks: int = 0
    task_run_ms: int = 0
    task_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    disk_spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    #: stage key -> run times (ms) of its successful tasks
    stage_task_ms: dict = field(default_factory=dict)

    def job_seconds(self) -> float:
        """Wall time covered by at least one of the jobs (overlaps once)."""
        total = 0
        end = None
        for lo, hi in sorted(self.job_intervals):
            if end is None or lo > end:
                total += hi - lo
                end = hi
            elif hi > end:
                total += hi - end
                end = hi
        return total / 1000.0

    def stage_skew(self, min_task_ms: int = 50) -> float:
        """Worst stage's max/median task run time. Stages with a single
        task, or whose slowest task is under ``min_task_ms``, are left out:
        their ratio is scheduling noise, not data skew. 1.0 when none
        qualifies."""
        worst = 1.0
        for times in self.stage_task_ms.values():
            if len(times) < 2 or max(times) < min_task_ms:
                continue
            med = statistics.median(times)
            worst = max(worst, max(times) / max(med, 1.0))
        return worst


#: the summable counters of GroupStats (every field that starts at 0)
_COUNTERS = tuple(f.name for f in fields(GroupStats) if f.default == 0)


def merge(groups: Iterable[GroupStats]) -> GroupStats:
    out = GroupStats()
    for g in groups:
        for name in _COUNTERS:
            setattr(out, name, getattr(out, name) + getattr(g, name))
        out.job_intervals.extend(g.job_intervals)
        out.stage_task_ms.update(g.stage_task_ms)
    return out


def _group_of(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def parse_events(lines: Iterable[str]) -> dict[str, GroupStats]:
    """Fold event-log lines into ``{job group id: GroupStats}``. Jobs
    without a group are filed under ``""``."""
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}

    def stats(gid: str) -> GroupStats:
        if gid not in groups:
            groups[gid] = GroupStats()
        return groups[gid]

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = _group_of(ev.get("Properties")) or ""
            jid = ev["Job ID"]
            job_group[jid] = gid
            job_start[jid] = ev.get("Submission Time", 0)
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, gid)
            stats(gid).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            stats(job_group.get(jid, "")).job_intervals.append(
                (job_start.get(jid, ev["Completion Time"]), ev["Completion Time"])
            )
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            gid = _group_of(ev.get("Properties"))
            if gid is not None:
                stage_group[info["Stage ID"]] = gid
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            g = stats(stage_group.get(sid, ""))
            g.tasks += 1
            ok = ev.get("Task End Reason", {}).get("Reason") == "Success"
            if not ok:
                g.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            g.task_run_ms += run_ms
            g.task_cpu_ns += m.get("Executor CPU Time", 0)
            g.gc_ms += m.get("JVM GC Time", 0)
            g.disk_spill_bytes += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            if ok:
                key = (sid, ev.get("Stage Attempt ID", 0))
                g.stage_task_ms.setdefault(key, []).append(run_ms)
    return groups


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """:func:`parse_events` over one event-log file."""
    with open(path, encoding="utf-8") as f:
        return parse_events(f)
