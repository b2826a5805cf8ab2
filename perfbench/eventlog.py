"""Per-job-group counters from an uncompressed Spark event log.

Jobs carry their group in the ``spark.jobGroup.id`` job property. Stages
and tasks are attributed to the group of the job that submitted them;
only stages that actually ran (``SparkListenerStageCompleted``) and
tasks that ended are counted, so stages skipped because their shuffle
output already existed add nothing.
"""

from __future__ import annotations

import json
from collections import defaultdict

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "executor_gc_s",
)


def _task_counters(m: dict) -> dict[str, float]:
    sr = m.get("Shuffle Read Metrics", {})
    return {
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
        "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "executor_gc_s": m.get("JVM GC Time", 0) / 1e3,
    }


def parse(lines) -> dict[str | None, dict[str, float]]:
    """Counters keyed by job group (``None`` for jobs outside any group)
    from the event log's JSON lines."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            out[group]["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid)]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_group.get(ev["Stage ID"])]
            c["tasks"] += 1
            for k, v in _task_counters(ev.get("Task Metrics") or {}).items():
                c[k] += v
    return dict(out)


def parse_file(path: str) -> dict[str | None, dict[str, float]]:
    with open(path) as f:
        return parse(f)
