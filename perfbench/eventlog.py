"""Per-stage metrics from a Spark event log (``spark.eventLog.enabled``,
uncompressed JSON lines).

A job group set with ``SparkContext.setJobGroup`` is copied into every
``SparkListenerJobStart``'s properties, including the extra jobs adaptive
execution submits for one query, so the stages of one timed job are the
stages listed by the job starts carrying its group id.
"""

from __future__ import annotations

import json
from typing import Iterable

_ACC = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.input.recordsRead": ("input_records", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
}


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def stage_metrics(events: Iterable[dict], job_group: str) -> list[dict]:
    """One dict per completed stage attempt of the jobs in ``job_group``:
    ``stage``, ``tasks`` and the ``_ACC`` fields (seconds / bytes / rows)."""
    events = list(events)
    stage_ids: set[int] = set()
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        props = ev.get("Properties") or {}
        if props.get("spark.jobGroup.id") == job_group:
            stage_ids.update(ev.get("Stage IDs", []))
    stages = []
    for ev in events:
        if ev.get("Event") != "SparkListenerStageCompleted":
            continue
        info = ev["Stage Info"]
        if info["Stage ID"] not in stage_ids:
            continue
        row = {"stage": info["Stage ID"], "tasks": info["Number of Tasks"]}
        row.update({name: 0.0 for name, _ in _ACC.values()})
        for acc in info.get("Accumulables", []):
            field = _ACC.get(acc.get("Name"))
            if field is not None:
                row[field[0]] = float(acc["Value"]) * field[1]
        stages.append(row)
    return stages


def summarise_stages(
    stages: list[dict], cores: int, scan_min_records: int
) -> dict[str, float]:
    """Job totals plus ``min_scan_tasks_per_core``: the fewest tasks any
    input scan stage ran, per core. A scan stage is one that read at least
    ``scan_min_records`` rows from files (the row count of the smallest
    input file), so reads of small aggregated metadata, such as persisted
    partial sketches, do not count."""
    if not stages:
        raise ValueError("no completed stages for the traced job")
    total = {
        key: sum(s[key] for s in stages)
        for key in (
            "tasks",
            "executor_run_s",
            "executor_cpu_s",
            "input_bytes",
            "shuffle_write_bytes",
        )
    }
    scans = [s["tasks"] for s in stages if s["input_records"] >= scan_min_records]
    if not scans:
        raise ValueError("the traced job has no input scan stage")
    total["min_scan_tasks_per_core"] = min(scans) / cores
    return total
