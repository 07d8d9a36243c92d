"""Per-job-group totals from a Spark event log.

The traced run tags every job of a stage with ``setJobGroup(<stage>)``.
A finished (uncompressed) event log is one JSON event per line; this
module sums, per group:

- ``jobs``: jobs started;
- ``task_s``: summed executor run time of the group's tasks;
- ``shuffle_write_bytes`` and ``output_bytes`` (bytes written to storage);
- ``failed_tasks``: task attempts that did not end in ``Success``.

A stage belongs to the group of the first job that lists it; a later job
that reuses the stage's shuffle output lists it as skipped and runs no
task for it.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

FIELDS = ("jobs", "task_s", "shuffle_write_bytes", "output_bytes", "failed_tasks")


def parse_events(lines) -> dict[str, dict[str, float]]:
    """→ {group: {field: total}}; jobs outside any group go to ``""``."""
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    stage_group: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            totals[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            t = totals[stage_group.get(ev.get("Stage ID"), "")]
            m = ev.get("Task Metrics") or {}
            t["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            t["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            t["failed_tasks"] += reason != "Success"
    return dict(totals)


def parse_dir(path: str) -> dict[str, dict[str, float]]:
    """Sum :func:`parse_events` over every log file in ``path``. Job and
    stage ids restart with each SparkContext, so files parse one by one."""
    out: dict[str, dict[str, float]] = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name)) as fh:
            for group, t in parse_events(fh).items():
                acc = out.setdefault(group, dict.fromkeys(FIELDS, 0))
                for k, v in t.items():
                    acc[k] += v
    return out
