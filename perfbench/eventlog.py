"""Parser for an uncompressed Spark event log (``spark.eventLog.compress``
must be false). It groups task metrics by the job group each job ran
under (``setJobGroup``), then rolls the groups up into layers.

    python3 perfbench/eventlog.py <event log file or directory>

prints the per-job-group JSON.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

def _log_files(path: Path) -> list[Path]:
    """Event files under ``path``: Spark 4 writes each application's log
    as a directory ``eventlog_v2_<app>`` holding ``events_<n>_<app>``."""
    if not path.is_dir():
        return [path]
    return sorted(path.rglob("events_*"))


def parse(path: Path) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor CPU seconds, shuffle
    bytes written, bytes spilled (memory + disk), and task skew (the
    median, over stages with two or more tasks, of max / median task ms)."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    task_ms: dict[tuple[str, int], list[float]] = defaultdict(list)
    for log in _log_files(path):
        with log.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "<none>"
                    jobs[group] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    group = stage_group.get(sid, "<none>")
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    t = totals[group]
                    t["tasks"] += 1
                    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    task_ms[(group, sid)].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
    skews: dict[str, list[float]] = defaultdict(list)
    stages: dict[str, int] = defaultdict(int)
    for (group, _sid), ms in task_ms.items():
        stages[group] += 1
        mid = statistics.median(ms)
        if len(ms) >= 2 and mid > 0:
            skews[group].append(max(ms) / mid)
    out = {}
    for group in sorted(set(jobs) | set(totals)):
        t = totals.get(group, {})
        out[group] = {
            "jobs": jobs.get(group, 0),
            "stages": stages.get(group, 0),
            "tasks": int(t.get("tasks", 0)),
            "cpu_s": t.get("cpu_s", 0.0),
            "shuffle_bytes": int(t.get("shuffle_bytes", 0)),
            "spill_bytes": int(t.get("spill_bytes", 0)),
            "task_skew": statistics.median(skews[group]) if skews.get(group) else 1.0,
            "_skews": skews.get(group, []),
        }
    return out


def summarize(path: Path, group_layer: dict[str, str]) -> dict[str, float]:
    """Roll job groups up to top-level layers (``operators.dedup`` ->
    ``operators``) as ``<layer>.cpu_s``, ``.shuffle_bytes``,
    ``.spill_bytes`` and ``.task_skew``. Groups not in ``group_layer``
    (such as the tracing probe) are left out."""
    layers: dict[str, dict] = defaultdict(lambda: {"cpu_s": 0.0, "shuffle_bytes": 0,
                                                   "spill_bytes": 0, "_skews": []})
    for group, g in parse(path).items():
        layer = group_layer.get(group)
        if layer is None:
            continue
        acc = layers[layer.split(".", 1)[0]]
        acc["cpu_s"] += g["cpu_s"]
        acc["shuffle_bytes"] += g["shuffle_bytes"]
        acc["spill_bytes"] += g["spill_bytes"]
        acc["_skews"] += g["_skews"]
    out = {}
    for layer, acc in layers.items():
        for key in ("cpu_s", "shuffle_bytes", "spill_bytes"):
            out[f"{layer}.{key}"] = acc[key]
        out[f"{layer}.task_skew"] = statistics.median(acc["_skews"]) if acc["_skews"] else 1.0
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    groups = parse(Path(sys.argv[1]))
    for g in groups.values():
        g.pop("_skews")
    print(json.dumps(groups, indent=1))
