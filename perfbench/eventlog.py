"""Offline parser for an uncompressed Spark event log.

Joins each job and stage back to the span that submitted it through the
`spark.jobGroup.id` property (trace.Recorder sets it to `pb<span id>`),
and sums the stage's task metrics per group. Stage totals come from the
`internal.metrics.*` accumulables of `SparkListenerStageCompleted`; the
Python-boundary bytes come from the MapInPandas node's SQL metrics,
which the same event lists by name.
"""

from __future__ import annotations

import json
import os
import re

#: stage accumulable name → summary field
_STAGE_ACCUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_recv_bytes",
}
FIELDS = ("jobs", "tasks", *sorted(set(_STAGE_ACCUMS.values())))


def log_files(path: str) -> list[str]:
    """The event log file(s) under `path`: a single file, or the parts
    of a rolling log (`events_<n>_<app>`) in index order."""
    if os.path.isfile(path):
        return [path]
    found = []
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            m = re.match(r"events_(\d+)_", f)
            if m:
                found.append((dirpath, int(m.group(1)), f))
            elif not f.startswith(".") and not f.startswith("appstatus"):
                found.append((dirpath, 0, f))
    return [os.path.join(d, f) for d, _i, f in sorted(found)]


def read_events(path: str):
    for p in log_files(path):
        with open(p) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _in_windows(t_ms: float | None, windows) -> bool:
    if windows is None:
        return True
    if t_ms is None:
        return False
    return any(lo <= t_ms <= hi for lo, hi in windows)


def summarize(events, windows: list[tuple[float, float]] | None = None) -> dict:
    """group id (None for untagged work) → {jobs, tasks, run_ms, cpu_ns,
    gc_ms, spill_bytes, shuffle_write_bytes, shuffle_read_bytes,
    py_sent_bytes, py_recv_bytes}. `windows` (epoch-ms intervals) keeps
    only jobs and stages submitted inside one of them."""
    out: dict = {}
    stage_group: dict[int, str | None] = {}

    def acc(group):
        return out.setdefault(group, dict.fromkeys(FIELDS, 0))

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            if _in_windows(e.get("Submission Time"), windows):
                acc((e.get("Properties") or {}).get("spark.jobGroup.id"))["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            stage_group[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = (
                (e.get("Properties") or {}).get("spark.jobGroup.id")
            )
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if not _in_windows(info.get("Submission Time"), windows):
                continue
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            a = acc(stage_group.get(key))
            a["tasks"] += int(info.get("Number of Tasks", 0))
            for item in info.get("Accumulables", []):
                field = _STAGE_ACCUMS.get(item.get("Name"))
                if field is not None:
                    try:
                        a[field] += int(item.get("Value") or 0)
                    except (TypeError, ValueError):
                        continue
    return out
