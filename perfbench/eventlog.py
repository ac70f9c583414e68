"""Offline reduction of a Spark event log to per-job-group execution stats.

Spark writes one JSON event per line (``spark.eventLog.enabled`` with
compression and rolling off).  Jobs and stages carry their submitter's local
properties, so every job, stage and task is assigned to the
``spark.jobGroup.id`` that was set when it was submitted.  Jobs with no group
(set-up, warm-up, the correctness check) are ignored.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

#: SQL metrics (task accumulables) that measure Python-worker time.
_PYTHON_TIMERS = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)

#: The per-phase fields reported for a set of job groups.
FIELDS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("busy_s", "s"),
    ("task_p50_ms", "ms"),
    ("task_max_ms", "ms"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("gc_s", "s"),
    ("python_s", "s"),
)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    task_ms: list[int] = field(default_factory=list)  # executor run time per task
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0  # disk bytes spilled
    gc_ms: int = 0
    python_ms: int = 0


def reduce_log(path: str) -> dict[str, GroupStats]:
    """Per job group: jobs, stage attempts and task metrics."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    timing_ids: set[int] = set()  # accumulator ids of SQL metrics in ms

    def collect_metrics(plan: dict) -> None:
        for m in plan.get("metrics", []):
            if m["name"] in _PYTHON_TIMERS and m["metricType"] == "timing":
                timing_ids.add(m["accumulatorId"])
        for child in plan.get("children", []):
            collect_metrics(child)

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if "sparkPlanInfo" in ev:
                collect_metrics(ev["sparkPlanInfo"])
            elif "sqlPlanMetrics" in ev:
                collect_metrics({"metrics": ev["sqlPlanMetrics"]})
            elif kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    groups.setdefault(g, GroupStats()).jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
                    groups.setdefault(g, GroupStats()).stages += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if g is None or tm is None:
                    continue
                s = groups[g]
                s.task_ms.append(tm["Executor Run Time"])
                rd = tm["Shuffle Read Metrics"]
                s.shuffle_read_b += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                s.shuffle_write_b += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                s.spill_b += tm["Disk Bytes Spilled"]
                s.gc_ms += tm["JVM GC Time"]
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc["ID"] in timing_ids:
                        s.python_ms += int(acc.get("Update") or 0)
    return groups


def summarize(stats: list[GroupStats]) -> dict[str, float]:
    """The ``FIELDS`` over the union of several groups' jobs."""
    tasks = [t for s in stats for t in s.task_ms]
    mb = 1024 * 1024
    return {
        "jobs": sum(s.jobs for s in stats),
        "stages": sum(s.stages for s in stats),
        "tasks": len(tasks),
        "busy_s": sum(tasks) / 1000,
        "task_p50_ms": statistics.median(tasks) if tasks else 0.0,
        "task_max_ms": max(tasks, default=0),
        "shuffle_read_mb": sum(s.shuffle_read_b for s in stats) / mb,
        "shuffle_write_mb": sum(s.shuffle_write_b for s in stats) / mb,
        "spill_mb": sum(s.spill_b for s in stats) / mb,
        "gc_s": sum(s.gc_ms for s in stats) / 1000,
        "python_s": sum(s.python_ms for s in stats) / 1000,
    }
