"""Spark event-log parser: per job group, what the executors did.

The event log is JSON lines (``spark.eventLog.enabled``). Jobs carry
their group in ``Properties["spark.jobGroup.id"]``; tasks carry their
stage, and each job lists its stages, so every task end maps to a group.
Scheduler delay follows the Spark UI: a task's wall time minus run,
deserialize, result-serialize and result-fetch time.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: set = field(default_factory=set)
    stages: set = field(default_factory=set)
    tasks: int = 0
    executor_run_ms: float = 0.0
    deserialize_ms: float = 0.0
    sched_delay_ms: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    result_bytes: int = 0


def parse_event_log(lines) -> dict[str, GroupStats]:
    """``lines``: an iterable of event-log lines. Returns group id →
    totals over the tasks of that group's jobs. Jobs without a group
    are left out."""
    group_of_stage: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            g = out.setdefault(group, GroupStats())
            g.jobs.add(ev["Job ID"])
            for sid in ev.get("Stage IDs", []):
                group_of_stage.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = group_of_stage.get(ev["Stage ID"])
            if group is None:
                continue
            g = out[group]
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            g.stages.add(ev["Stage ID"])
            g.tasks += 1
            run = m.get("Executor Run Time", 0)
            deser = m.get("Executor Deserialize Time", 0)
            ser = m.get("Result Serialization Time", 0)
            fetch_start = info.get("Getting Result Time", 0)
            fetch = (info["Finish Time"] - fetch_start
                     if fetch_start else 0)
            wall = info["Finish Time"] - info["Launch Time"]
            g.executor_run_ms += run
            g.deserialize_ms += deser
            g.sched_delay_ms += max(0, wall - run - deser - ser - fetch)
            g.input_bytes += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_bytes += (sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0))
            g.result_bytes += m.get("Result Size", 0)
    return out
