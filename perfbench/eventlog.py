"""Spark event-log reader: per-job-group task metrics.

The benchmark gives every operation its own job group
(``SparkContext.setJobGroup``), so grouping the log's jobs by
``spark.jobGroup.id`` yields the jobs, tasks, task time, GC time,
shuffle bytes and spill of each operation, plus the wall interval of
every job (to split an operation's time into job time and driver time).

The log must be written uncompressed (``spark.eventLog.compress=false``).
``path`` may be one log file or a rolling (v2) log directory.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    # (submission, completion) of each job, epoch seconds
    job_intervals: list = field(default_factory=list)


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    # rolling logs are named events_<index>_<app id>
    names.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in names]


def find_log(log_dir: str, app_id: str) -> str:
    """The log (file or rolling directory) of ``app_id`` in ``log_dir``."""
    for name in os.listdir(log_dir):
        if app_id in name and not name.startswith("."):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Job-group id → GroupStats. Jobs with no group land under ``""``."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    out: dict[str, GroupStats] = {}
    for fp in _event_files(path):
        with open(fp) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jid = e["Job ID"]
                    job_group[jid] = g
                    job_submit[jid] = e["Submission Time"] / 1000.0
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = g
                    out.setdefault(g, GroupStats()).jobs += 1
                elif ev == "SparkListenerJobEnd":
                    jid = e["Job ID"]
                    g = job_group.get(jid, "")
                    out.setdefault(g, GroupStats()).job_intervals.append(
                        (job_submit.get(jid, 0.0), e["Completion Time"] / 1000.0)
                    )
                elif ev == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"], "")
                    st = out.setdefault(g, GroupStats())
                    m = e.get("Task Metrics") or {}
                    st.tasks += 1
                    st.task_s += m.get("Executor Run Time", 0) / 1000.0
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out
