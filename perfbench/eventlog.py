"""Spark event-log reader: task metrics summed per job group.

The benchmark enables the event log through launch-time configuration
(``spark.eventLog.*``) and tags each traced query's jobs with a job
group, so every task can be attributed to the query that caused it.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

FIELDS = ("jobs", "tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
          "sched_delay_ms", "input_rows", "input_bytes", "shuffle_write_bytes",
          "shuffle_read_bytes", "spill_bytes")


def _scheduler_delay_ms(info: dict, m: dict) -> int:
    """Spark UI definition: task duration not spent deserializing,
    running, serializing or fetching the result."""
    duration = info["Finish Time"] - info["Launch Time"]
    busy = (m.get("Executor Run Time", 0) + m.get("Executor Deserialize Time", 0)
            + m.get("Result Serialization Time", 0))
    fetch = (info["Finish Time"] - info["Getting Result Time"]
             if info.get("Getting Result Time") else 0)
    return max(0, duration - busy - fetch)


def read(directory: str) -> "dict[str, dict[str, int]]":
    """``{job group: {field: total}}`` over the single event log in
    ``directory``; jobs without a group are keyed ``""``."""
    files = [f for f in glob.glob(os.path.join(directory, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {files}")
    stage_group: "dict[int, str]" = {}
    out: "dict[str, dict[str, int]]" = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                out[group]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                agg = out[stage_group.get(ev["Stage ID"], "")]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                agg["tasks"] += 1
                agg["failed_tasks"] += bool(info.get("Failed"))
                agg["run_ms"] += m.get("Executor Run Time", 0)
                agg["cpu_ns"] += m.get("Executor CPU Time", 0)
                agg["gc_ms"] += m.get("JVM GC Time", 0)
                agg["sched_delay_ms"] += _scheduler_delay_ms(info, m)
                inp = m.get("Input Metrics") or {}
                agg["input_rows"] += inp.get("Records Read", 0)
                agg["input_bytes"] += inp.get("Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                agg["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                agg["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(out)


def totals(groups: "dict[str, dict[str, int]]", prefix: str) -> "dict[str, int]":
    """Sum of every group whose name starts with ``prefix``."""
    tot = dict.fromkeys(FIELDS, 0)
    for name, agg in groups.items():
        if name.startswith(prefix):
            for k in FIELDS:
                tot[k] += agg[k]
    return tot
