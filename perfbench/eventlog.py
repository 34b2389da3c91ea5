"""Spark event-log parser: task metrics attributed to job groups.

The harness sets one job group per query and phase before it runs them;
Spark copies the group into the properties of every stage it submits, and
each task-end event carries its stage id and its metrics. Reads the
uncompressed JSON-lines log that ``spark.eventLog.enabled`` writes.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field
from statistics import median

MB = 1e6


@dataclass
class GroupMetrics:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    # Spark 4's vectorized parquet reader reports almost no input bytes for
    # local files, so rows read is the scan measure that holds up
    input_rows: int = 0
    output_mb: float = 0.0
    peak_exec_mb: float = 0.0
    task_skew: float = 1.0  # max over stages of max / median task duration
    stage_task_ms: dict[int, list[int]] = field(default_factory=lambda: defaultdict(list))

    def add(self, other: GroupMetrics) -> None:
        for name in (
            "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_read_mb",
            "shuffle_write_mb", "spill_mb", "input_mb", "input_rows", "output_mb",
        ):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.peak_exec_mb = max(self.peak_exec_mb, other.peak_exec_mb)
        self.task_skew = max(self.task_skew, other.task_skew)

    def summary(self) -> dict:
        return {k: v for k, v in vars(self).items() if k != "stage_task_ms"}


def _group(props: "dict | None") -> "str | None":
    return (props or {}).get("spark.jobGroup.id")


def parse_events(lines) -> dict[str, GroupMetrics]:
    """Per job group metrics from an iterable of event-log JSON lines.
    Events outside any job group are ignored."""
    groups: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    stage_group: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group(ev.get("Properties"))
            if g is not None:
                groups[g].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            g = _group(ev.get("Properties"))
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
                groups[g].stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            metrics = ev.get("Task Metrics")
            if g is None or not metrics:
                continue
            m = groups[g]
            info = ev["Task Info"]
            m.tasks += 1
            m.task_s += metrics.get("Executor Run Time", 0) / 1e3
            m.cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
            m.gc_s += metrics.get("JVM GC Time", 0) / 1e3
            sr = metrics.get("Shuffle Read Metrics", {})
            m.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            m.shuffle_write_mb += metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
            m.spill_mb += metrics.get("Disk Bytes Spilled", 0) / MB
            m.input_mb += metrics.get("Input Metrics", {}).get("Bytes Read", 0) / MB
            m.input_rows += metrics.get("Input Metrics", {}).get("Records Read", 0)
            m.output_mb += metrics.get("Output Metrics", {}).get("Bytes Written", 0) / MB
            m.peak_exec_mb = max(m.peak_exec_mb, metrics.get("Peak Execution Memory", 0) / MB)
            m.stage_task_ms[ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
    for m in groups.values():
        for durations in m.stage_task_ms.values():
            mid = median(durations)
            if len(durations) > 1 and mid > 0:
                m.task_skew = max(m.task_skew, max(durations) / mid)
    return dict(groups)


def _log_files(path: str) -> list[str]:
    """Event-log files under ``path``: single-file logs, and the
    ``events_*`` parts inside Spark 4's ``eventlog_v2_<app>`` directories
    (their ``appstatus`` markers and checksum files are skipped)."""
    found = []
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "appstatus")):
                found.append(os.path.join(root, name))
    return sorted(found)


def parse_dir(path: str) -> dict[str, GroupMetrics]:
    """Merge the logs of every application under ``path``."""
    merged: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    for log in _log_files(path):
        with open(log) as f:
            for g, m in parse_events(f).items():
                merged[g].add(m)
    return dict(merged)
