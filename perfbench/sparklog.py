"""Spark task counters per request, folded from the local event log.

The traced run starts Spark with an uncompressed event log and sets the
local property :data:`KEY_PROPERTY` on the thread that runs each
request. Spark copies a thread's local properties into the
``SparkListenerJobStart`` event of every job that thread starts, so a
job, its stages and their tasks can be charged to the request.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

KEY_PROPERTY = "perfbench.request"

#: Counter metrics per request, as the traced run reports them.
COUNTERS = (
    "spark.jobs",
    "spark.tasks",
    "spark.scan_tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.input_bytes",
    "spark.input_rows",
    "spark.output_bytes",
    "spark.shuffle_bytes",
    "spark.spill_bytes",
)


def _task_counters(metrics: dict) -> dict[str, float]:
    inp = metrics.get("Input Metrics", {})
    out = metrics.get("Output Metrics", {})
    sread = metrics.get("Shuffle Read Metrics", {})
    swrite = metrics.get("Shuffle Write Metrics", {})
    return {
        "spark.executor_run_s": metrics.get("Executor Run Time", 0) / 1e3,
        "spark.executor_cpu_s": metrics.get("Executor CPU Time", 0) / 1e9,
        "spark.gc_s": metrics.get("JVM GC Time", 0) / 1e3,
        "spark.input_bytes": inp.get("Bytes Read", 0),
        "spark.input_rows": inp.get("Records Read", 0),
        "spark.output_bytes": out.get("Bytes Written", 0),
        "spark.shuffle_bytes": sread.get("Remote Bytes Read", 0)
        + sread.get("Local Bytes Read", 0)
        + swrite.get("Shuffle Bytes Written", 0),
        "spark.spill_bytes": metrics.get("Memory Bytes Spilled", 0)
        + metrics.get("Disk Bytes Spilled", 0),
    }


def fold_events(lines) -> dict[str, dict[str, float]]:
    """Per-request counters from event-log JSON lines.

    ``spark.scan_tasks`` is the largest task count of any stage that
    read input; a request whose jobs read nothing reports 0."""
    stage_key: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stage_tasks: dict[int, int] = defaultdict(int)
    stage_reads: set[int] = set()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            key = (ev.get("Properties") or {}).get(KEY_PROPERTY)
            if key:
                out[key]["spark.jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_key[sid] = key
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            key = stage_key.get(sid)
            if key is None:
                continue
            counters = _task_counters(ev.get("Task Metrics") or {})
            acc = out[key]
            acc["spark.tasks"] += 1
            for name, v in counters.items():
                acc[name] += v
            stage_tasks[sid] += 1
            if counters["spark.input_bytes"] or counters["spark.input_rows"]:
                stage_reads.add(sid)
    for sid in stage_reads:
        acc = out[stage_key[sid]]
        acc["spark.scan_tasks"] = max(acc["spark.scan_tasks"], stage_tasks[sid])
    return dict(out)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Fold every event log file in ``log_dir`` (the run has one)."""
    lines: list[str] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, encoding="utf-8") as f:
            lines += [ln for ln in f if ln.strip()]
    return fold_events(lines)
