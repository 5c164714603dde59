"""Offline decoding of Spark's event log into per-job-group totals.

Spark 4.1 writes a rolling log directory ``eventlog_v2_<app>/`` whose
``events_<n>_<app>[.zstd]`` files hold one JSON event per line; pyarrow's
zstd stream decodes them, so no Spark UI or history server is needed.
Every layer call of a traced run is tagged with ``setJobGroup``; tasks are
attributed to a group through their stage's job.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field


def read_events(log_dir: str) -> list[dict]:
    """Every event of every application log under log_dir, in file order."""
    import pyarrow as pa

    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))

    def order(path):
        m = re.search(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0)

    events = []
    for path in sorted(files, key=order):
        if path.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(path), "zstd") as s:
                text = s.read().decode()
        else:
            with open(path) as f:
                text = f.read()
        events.extend(json.loads(line) for line in text.splitlines() if line.strip())
    return events


@dataclass
class GroupTotals:
    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    spill_bytes: int = 0
    # task run times per stage, for skew
    stage_task_ms: dict[int, list[int]] = field(default_factory=dict)
    stage_shuffle_read: dict[int, int] = field(default_factory=dict)

    def add(self, other: "GroupTotals") -> None:
        for k in ("jobs", "tasks", "tasks_failed", "run_ms", "cpu_ns", "shuffle_write_bytes",
                  "shuffle_read_bytes", "input_bytes", "output_bytes", "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for s, ts in other.stage_task_ms.items():
            self.stage_task_ms.setdefault(s, []).extend(ts)
        for s, b in other.stage_shuffle_read.items():
            self.stage_shuffle_read[s] = self.stage_shuffle_read.get(s, 0) + b

    def task_skew(self) -> float:
        """max / median task run time in the group's heaviest shuffle-reading
        stage (the stage a partitioning key's skew lands on); 0 if none."""
        reading = [s for s, b in self.stage_shuffle_read.items() if b > 0 and self.stage_task_ms.get(s)]
        if not reading:
            return 0.0
        stage = max(reading, key=lambda s: sum(self.stage_task_ms[s]))
        ts = sorted(self.stage_task_ms[stage])
        mid = ts[len(ts) // 2] if len(ts) % 2 else (ts[len(ts) // 2 - 1] + ts[len(ts) // 2]) / 2
        return ts[-1] / mid if mid else 0.0


def group_totals(events: list[dict]) -> dict[str, GroupTotals]:
    """Totals per job group (``spark.jobGroup.id``; jobs without one fall
    under ""). Every task attempt counts, failed ones included."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupTotals] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out.setdefault(group, GroupTotals()).jobs += 1
            for s in e.get("Stage IDs", []):
                stage_group[s] = group
        elif kind == "SparkListenerTaskEnd":
            g = out.setdefault(stage_group.get(e["Stage ID"], ""), GroupTotals())
            g.tasks += 1
            info = e.get("Task Info", {})
            if info.get("Failed") or e.get("Task End Reason", {}).get("Reason") != "Success":
                g.tasks_failed += 1
            m = e.get("Task Metrics") or {}
            run = int(m.get("Executor Run Time", 0))
            g.run_ms += run
            g.cpu_ns += int(m.get("Executor CPU Time", 0))
            g.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0))
            g.shuffle_write_bytes += int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            sr = m.get("Shuffle Read Metrics") or {}
            read = int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0))
            g.shuffle_read_bytes += read
            g.input_bytes += int((m.get("Input Metrics") or {}).get("Bytes Read", 0))
            g.output_bytes += int((m.get("Output Metrics") or {}).get("Bytes Written", 0))
            stage = e["Stage ID"]
            g.stage_task_ms.setdefault(stage, []).append(run)
            g.stage_shuffle_read[stage] = g.stage_shuffle_read.get(stage, 0) + read
    return out


def merged(groups: dict[str, GroupTotals], prefix: str) -> GroupTotals:
    """Sum of every group whose id starts with prefix ("" = all)."""
    total = GroupTotals()
    for name, g in groups.items():
        if name.startswith(prefix):
            total.add(g)
    return total


def session_metrics(g: GroupTotals) -> dict[str, float]:
    """The event-log ``spark.*`` per-layer metrics of one workload's traced
    phase (collection time comes from the JVM itself, see ``layers``)."""
    run_s = g.run_ms / 1000
    cpu_s = g.cpu_ns / 1e9
    return {
        "spark.exec_run_s": run_s,
        "spark.exec_cpu_s": cpu_s,
        "spark.wait_frac": (1 - cpu_s / run_s) if run_s else 0.0,
        "spark.shuffle_write_mb": g.shuffle_write_bytes / 1e6,
        "spark.spill_mb": g.spill_bytes / 1e6,
        "spark.jobs": g.jobs,
        "spark.tasks": g.tasks,
        "spark.tasks_failed": g.tasks_failed,
    }
