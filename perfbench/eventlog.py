"""Fold a Spark event log into per-job-group layer metrics.

The traced session writes Spark's own uncompressed, non-rolling event
log. Every benchmark call runs under its own job group, so each task
is attributed to a call through ``task -> stage -> job -> group``:
``SparkListenerJobStart`` carries the group in its properties and the
stage ids it will run, and ``SparkListenerTaskEnd`` carries the stage
id, the task metrics and the SQL metrics of the Arrow/Python nodes.
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict
from collections.abc import Iterable

_MB = float(1 << 20)

#: layer metric -> (source, key, scale); "task" keys are in
#: ``Task Metrics``, "sql" keys are SQL metric names in the task's
#: accumulables (Python-runner time is in ms, data sizes in bytes)
FIELDS = {
    "executor_cpu_s": ("task", "Executor CPU Time", 1e-9),
    "run_s": ("task", "Executor Run Time", 1e-3),
    "gc_s": ("task", "JVM GC Time", 1e-3),
    "spill_mb": ("task", "Disk Bytes Spilled", 1 / _MB),
    "py_worker_s": ("sql", "time to run Python workers", 1e-3),
    "to_python_mb": ("sql", "data sent to Python workers", 1 / _MB),
    "from_python_mb": ("sql", "data returned from Python workers", 1 / _MB),
}


def _task_values(event: dict) -> dict[str, float]:
    metrics = event.get("Task Metrics") or {}
    sql: Counter = Counter()
    for acc in (event.get("Task Info") or {}).get("Accumulables", []):
        try:
            sql[acc.get("Name")] += float(acc.get("Update") or 0)
        except (TypeError, ValueError):
            continue  # non-numeric accumulator
    out = {}
    for name, (source, key, scale) in FIELDS.items():
        raw = metrics.get(key, 0) if source == "task" else sql.get(key, 0.0)
        out[name] = float(raw) * scale
    write = metrics.get("Shuffle Write Metrics") or {}
    read = metrics.get("Shuffle Read Metrics") or {}
    out["shuffle_write_mb"] = write.get("Shuffle Bytes Written", 0) / _MB
    out["shuffle_read_mb"] = (
        read.get("Local Bytes Read", 0) + read.get("Remote Bytes Read", 0)
    ) / _MB
    out["tasks"] = 1.0
    return out


def fold(lines: Iterable[str]) -> dict[str, Counter]:
    """Sum task metrics per job group; tasks of ungrouped jobs are dropped."""
    stage_group: dict[int, str] = {}
    out: dict[str, Counter] = defaultdict(Counter)
    for line in lines:
        if not line.strip():
            continue
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            group = (event.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in event.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(event.get("Stage ID"))
            if group is not None:
                out[group].update(_task_values(event))
    return dict(out)
