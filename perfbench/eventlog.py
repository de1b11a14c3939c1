"""Spark event-log parser: task totals per job group.

Every traced query call runs under its own job group, so a task maps to its
call through stage -> job -> ``spark.jobGroup.id``.
"""

from __future__ import annotations

import json
import os


def _records(log_dir: str):
    """Events of every uncompressed log under ``log_dir``."""
    for dirpath, _dirs, files in os.walk(log_dir):
        for fn in sorted(files):
            if fn.startswith((".", "appstatus")):
                continue
            with open(os.path.join(dirpath, fn)) as fh:
                for line in fh:
                    yield json.loads(line)


def group_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """{job group: {task_cpu_s, shuffle_bytes, spill_bytes}}."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = {}
    for ev in _records(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            t = totals.setdefault(group, {"task_cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0})
            t["task_cpu_s"] += (m.get("Executor CPU Time", 0) + m.get("Executor Deserialize CPU Time", 0)) / 1e9
            t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return totals
