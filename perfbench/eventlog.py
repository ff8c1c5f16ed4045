"""Parse a Spark event log into per-job-group task statistics."""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    task_wait_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "GroupStats") -> None:
        for k in ("jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
                  "task_wait_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def parse(lines) -> dict[str | None, GroupStats]:
    """Aggregate jobs, stages and tasks by ``spark.jobGroup.id``.

    A stage belongs to the group of the job that submitted it; a task's
    wait is its launch time minus its stage attempt's submission time.
    Jobs outside any group are keyed by ``None``.
    """
    out: dict[str | None, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[tuple[int, int], str | None] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            out[_group(ev.get("Properties"))].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            g = _group(ev.get("Properties"))
            stage_group[key] = g
            if info.get("Submission Time") is not None:
                stage_submit[key] = info["Submission Time"]
            out[g].stages += 1
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            st = out[stage_group.get(key)]
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if reason != "Success" or info.get("Failed") or info.get("Killed"):
                st.failed_tasks += 1
            st.task_run_s += m.get("Executor Run Time", 0) / 1e3
            st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            if key in stage_submit and "Launch Time" in info:
                st.task_wait_s += max(0, info["Launch Time"] - stage_submit[key]) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(out)


def parse_file(path: str) -> dict[str | None, GroupStats]:
    with open(path) as f:
        return parse(f)
