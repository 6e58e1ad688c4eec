"""Roll a Spark event log up per job group.

The traced run sets the job group to ``<key>:<phase>`` around every
layer call; streaming micro-batches run under the query's run id
instead and are attributed by time by the caller. This module only
reads the log: jobs, stages and tasks per group, task run, CPU and GC
time, shuffle bytes and spill.
"""

from __future__ import annotations

import json

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
)

_MB = 1024.0 * 1024.0
_WANTED = tuple(
    '{"Event":"SparkListener%s"' % k for k in ("JobStart", "StageSubmitted", "StageCompleted", "TaskEnd")
)


def _empty() -> dict:
    return dict.fromkeys(FIELDS, 0) | {"job_submit_ms": []}


def rollup(lines) -> dict[str | None, dict]:
    """Map each job group (``None`` for jobs without one) to its totals.
    ``job_submit_ms`` lists each job's submission time, so jobs of an
    ungrouped or run-id group can be placed inside a span."""
    groups: dict[str | None, dict] = {}
    stage_group: dict[int, str | None] = {}

    def g(name):
        if name not in groups:
            groups[name] = _empty()
        return groups[name]

    for line in lines:
        # SQL plan events run to megabytes; decode only the four kinds read here
        if not line.startswith(_WANTED):
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            r = g(group)
            r["jobs"] += 1
            r["job_submit_ms"].append(ev.get("Submission Time"))
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", stage_group.get(info["Stage ID"]))
            stage_group[info["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            g(stage_group.get(ev["Stage Info"]["Stage ID"]))["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            r = g(stage_group.get(ev["Stage ID"]))
            r["tasks"] += 1
            info = ev.get("Task Info") or {}
            if info.get("Failed") or info.get("Killed"):
                r["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            r["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            r["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            r["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
            r["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / _MB
    return groups


def read(path: str) -> dict[str | None, dict]:
    with open(path) as f:
        return rollup(f)


def add(into: dict, other: dict) -> dict:
    for k in FIELDS:
        into[k] = into.get(k, 0) + other[k]
    return into
