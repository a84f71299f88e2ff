"""Per-job-group counters and job spans from a Spark event log.

The benchmark labels every operation's jobs with ``setJobGroup(op)``.
``SparkListenerJobStart`` carries that label and the job's stage ids;
``SparkListenerTaskEnd`` carries the task's metrics and its stage id, so
task counters are attributed stage → job → group. A stage is charged to
the first job that lists it: later jobs that list it reuse its shuffle
output and run none of its tasks.
"""

from __future__ import annotations

import json
from collections import defaultdict

MB = 1 << 20


def read(path: str) -> tuple[dict[str, dict[str, float]], list[dict]]:
    """Return ({group: counters}, [job span]) for the event log at ``path``.

    Counters per group: jobs, cpu_s, shuffle_write_mb, output_mb, spill_mb.
    A job span is {job, group, start, end} with epoch seconds.
    """
    groups: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(
            ("jobs", "cpu_s", "shuffle_write_mb", "output_mb", "spill_mb"), 0.0
        )
    )
    stage_group: dict[int, str] = {}
    spans: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                groups[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
                spans[ev["Job ID"]] = {
                    "job": ev["Job ID"], "group": group,
                    "start": ev["Submission Time"] / 1000.0, "end": None,
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in spans:
                    spans[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                g = groups[stage_group.get(ev["Stage ID"], "")]
                g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
                )
                g["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB
                g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
    return dict(groups), list(spans.values())
