"""The result line, and CPU-steal and memory probes."""

from __future__ import annotations

import json
import os


def result_line(
    declared: list[dict],
    measured: dict[str, float],
    correct: bool,
    attempted: int,
    failed: int,
) -> str:
    """The benchmark's last stdout line. ``declared`` is the metric list
    from BENCHMARK.json (name + unit); every declared metric must have been
    measured and nothing undeclared may be reported."""
    names = [m["name"] for m in declared]
    missing = [n for n in names if n not in measured]
    extra = sorted(set(measured) - set(names))
    if missing or extra:
        raise ValueError(f"metrics missing {missing}, undeclared {extra}")
    metrics = {
        m["name"]: {"value": float(measured[m["name"]]), "unit": m["unit"]}
        for m in declared
    }
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": metrics,
        }
    )


def cpu_times() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    total = sum(vals[:8])  # guest time is already counted in user time
    return total - vals[3] - vals[4], vals[7], total


def busy_and_steal(start, end) -> tuple[float, float]:
    """CPU busy and steal fractions between two ``cpu_times`` snapshots.
    Steal is time a virtual CPU waited for the host: other tenants' load."""
    total = max(end[2] - start[2], 1)
    return (end[0] - start[0]) / total, (end[1] - start[1]) / total


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def rss_by_process(root: int | None = None) -> dict[str, float]:
    """VmHWM in MB of every live descendant of ``root`` (default: this
    process), keyed ``pid:command``: the driver JVM and the Python workers
    it spawned. Their sum is the ``peak_rss_mb`` metric."""
    out = {}
    for pid in _descendants(os.getpid() if root is None else root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[f"{pid}:{comm}"] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out
