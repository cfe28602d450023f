"""Parser for Spark's built-in event log (``eventlog_v2_<appId>/events_*``).

The traced run tags every benchmark operation with a Spark job group; this
module attributes jobs, stages and tasks to those groups. A stage is a
Python stage when one of its RDDs is a ``PythonRDD`` or runs under an
``ArrowEvalPython`` or ``MapInPandas`` operator: there the task run time
includes Python worker time, which the JVM's CPU time does not count.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

PYTHON_MARKERS = ("PythonRDD", "ArrowEvalPython", "MapInPandas")


@dataclass
class GroupStats:
    jobs: int = 0
    stages: set = field(default_factory=set)
    python_stages: set = field(default_factory=set)
    python_stage_ms: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    task_ms: list = field(default_factory=list)


def event_files(log_dir: str) -> list[str]:
    """Every ``events_<n>_<appId>`` file under ``log_dir``, in rolling order."""

    def index(path: str) -> tuple[str, int]:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0)

    return sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")), key=index)


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope") or "{}"
        names = (rdd.get("Name", ""), json.loads(scope).get("name", ""))
        if any(marker in n for n in names for marker in PYTHON_MARKERS):
            return True
    return False


def aggregate(events) -> dict[str, GroupStats]:
    """Per job group: jobs, stages, tasks and their summed task metrics.
    Jobs without a group are filed under the empty string."""
    stats: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            st = stats.setdefault(group, GroupStats())
            st.jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None or "Completion Time" not in info:
                continue
            st = stats[group]
            st.stages.add(info["Stage ID"])
            if _is_python_stage(info):
                st.python_stages.add(info["Stage ID"])
                st.python_stage_ms += info["Completion Time"] - info["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            metrics = ev.get("Task Metrics")
            if group is None or not metrics:
                continue
            st = stats[group]
            st.tasks += 1
            st.run_ms += metrics["Executor Run Time"]
            st.cpu_ns += metrics["Executor CPU Time"]
            st.task_ms.append(metrics["Executor Run Time"])
            sr = metrics["Shuffle Read Metrics"]
            st.shuffle_read_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            st.shuffle_write_bytes += metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            st.spill_bytes += metrics["Disk Bytes Spilled"]
    return stats


def merge(groups: list[GroupStats]) -> GroupStats:
    out = GroupStats()
    for g in groups:
        out.jobs += g.jobs
        out.stages |= g.stages
        out.python_stages |= g.python_stages
        out.python_stage_ms += g.python_stage_ms
        out.tasks += g.tasks
        out.run_ms += g.run_ms
        out.cpu_ns += g.cpu_ns
        out.shuffle_write_bytes += g.shuffle_write_bytes
        out.shuffle_read_bytes += g.shuffle_read_bytes
        out.spill_bytes += g.spill_bytes
        out.task_ms.extend(g.task_ms)
    return out


def select(stats: dict[str, GroupStats], pattern: str) -> GroupStats:
    """Every group whose id matches the regex ``pattern``, merged."""
    return merge([s for k, s in stats.items() if re.match(pattern, k)])


def per_call_metrics(stats: dict[str, GroupStats], pattern: str, calls: int) -> dict:
    """The ``spark.*`` layer metrics per call, over every group whose id
    matches ``pattern``. ``task_skew`` is max ÷ median task run time."""
    g = select(stats, pattern)
    calls = max(calls, 1)
    mb = 1024.0 * 1024.0
    run_s = g.run_ms / 1000.0 / calls
    cpu_s = g.cpu_ns / 1e9 / calls
    task_ms = sorted(g.task_ms)
    median = task_ms[len(task_ms) // 2] if task_ms else 0
    return {
        "spark.jobs_per_call": g.jobs / calls,
        "spark.tasks_per_call": g.tasks / calls,
        "spark.task_run_s": run_s,
        "spark.executor_cpu_s": cpu_s,
        "spark.run_minus_cpu_s": run_s - cpu_s,
        "spark.python_stages_per_call": len(g.python_stages) / calls,
        "spark.python_stage_s": g.python_stage_ms / 1000.0 / calls,
        "spark.shuffle_write_mb": g.shuffle_write_bytes / mb / calls,
        "spark.shuffle_read_mb": g.shuffle_read_bytes / mb / calls,
        "spark.spill_mb": g.spill_bytes / mb / calls,
        "spark.task_skew": task_ms[-1] / median if median else 0.0,
    }
