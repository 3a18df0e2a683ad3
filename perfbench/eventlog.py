"""Per-layer task metrics from Spark's event log.

The benchmark runs each layer of a traced pass under its own job group
(``spark.jobGroup.id``).  Spark records the group in the properties of every
``SparkListenerJobStart``; each ``SparkListenerTaskEnd`` names its stage.  The
reader maps stage -> group through the job-start events and sums the task
metrics per group.  The UI REST API is not an option: the engine's session
disables the UI.

Needs ``spark.eventLog.compress=false``, so each file is plain JSON lines.
Spark 4 writes a rolling log by default (``eventlog_v2_<app>/events_<n>_<app>``);
a single-file log (``<app>``) is read the same way.
"""

from __future__ import annotations

import json
import os
import re

_ROLLING_PART = re.compile(r"^events_(\d+)_")


def event_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir``, rolling parts in index order."""
    files = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path) and name.startswith("eventlog_v2_"):
            parts = [
                p for p in os.listdir(path) if _ROLLING_PART.match(p)
            ]
            parts.sort(key=lambda p: int(_ROLLING_PART.match(p).group(1)))
            files.extend(os.path.join(path, p) for p in parts)
        elif os.path.isfile(path) and not name.startswith("."):
            files.append(path)
    return files


def _new_totals() -> dict:
    return {
        "tasks": 0,
        "run_s": 0.0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_mb": 0.0,
        "shuffle_records": 0,
    }


def group_task_metrics(events) -> dict[str, dict]:
    """Sum ``SparkListenerTaskEnd`` metrics per job group.

    ``events`` is an iterable of decoded event dicts in log order.  Tasks of
    stages whose job carried no group are not counted.  Times are seconds:
    run and GC time are logged in ms, CPU time in ns."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            for sid in e.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e.get("Stage ID"))
            m = e.get("Task Metrics")
            if group is None or not m:
                continue
            t = totals.setdefault(group, _new_totals())
            sw = m.get("Shuffle Write Metrics") or {}
            t["tasks"] += 1
            t["run_s"] += m.get("Executor Run Time", 0) / 1e3
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            t["shuffle_records"] += sw.get("Shuffle Records Written", 0)
    return totals


def read_events(log_dir: str):
    """Decoded events of every log file under ``log_dir``, in order.  A
    truncated last line (a log still being written) is skipped."""
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue
