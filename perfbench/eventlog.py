"""Roll a Spark event log up per job group.

The benchmark tags every call into the engine with ``setJobGroup(span_id)``;
this module reads the uncompressed event log Spark wrote for the session
and sums task metrics per group, and per stage inside each group, so a
span's jobs, tasks, CPU, GC, input, shuffle and spill can be read without
a profiler.

Both layouts are read: the single file ``<app>`` (``<app>.inprogress``
while running) and Spark 4's rolling directory
``eventlog_v2_<app>/events_<N>_<app>``.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterable, Iterator

METRICS = (
    "tasks",
    "cpu_ms",
    "run_ms",
    "gc_ms",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "output_bytes",
    "spill_bytes",
)

_ROLLING_PART = re.compile(r"^events_(\d+)_")


def log_files(path: str) -> list[str]:
    """The files of one application's log, in write order."""
    if os.path.isfile(path):
        return [path]
    parts = []
    for name in os.listdir(path):
        m = _ROLLING_PART.match(name)
        if m:
            parts.append((int(m.group(1)), os.path.join(path, name)))
    return [p for _, p in sorted(parts)]


def find_app_logs(log_dir: str) -> list[str]:
    """Every application log (file or rolling directory) under ``log_dir``."""
    return sorted(
        os.path.join(log_dir, name)
        for name in os.listdir(log_dir)
        if not name.startswith(".")
    )


def read_events(path: str) -> Iterator[dict]:
    for file in log_files(path):
        if file.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise ValueError(
                f"{file} is compressed; run with spark.eventLog.compress=false"
            )
        with open(file) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _empty() -> dict:
    return dict.fromkeys(METRICS, 0)


def _task_metrics(event: dict) -> dict:
    tm = event.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    return {
        "tasks": 1,
        "cpu_ms": tm.get("Executor CPU Time", 0) / 1e6,  # reported in ns
        "run_ms": tm.get("Executor Run Time", 0),
        "gc_ms": tm.get("JVM GC Time", 0),
        "input_bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "output_bytes": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
        "spill_bytes": tm.get("Disk Bytes Spilled", 0),
    }


def rollup(events: Iterable[dict]) -> dict:
    """Index an application's events.

    Returns ``{"jobs": {job_id: {"group", "submit_ms"}},
    "stages": {stage_id: {"job": job_id, **METRICS}}}``. A job started
    outside any job group has group ``""``.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[job] = {
                "group": props.get("spark.jobGroup.id") or "",
                "submit_ms": ev.get("Submission Time", 0),
            }
            for stage in ev.get("Stage IDs", ()):
                # a stage shared by later jobs is skipped there, so its tasks
                # belong to the first job that listed it
                stage_job.setdefault(stage, job)
        elif kind == "SparkListenerTaskEnd":
            stage = ev["Stage ID"]
            st = stages.setdefault(stage, {"job": stage_job.get(stage), **_empty()})
            for k, v in _task_metrics(ev).items():
                st[k] += v
    return {"jobs": jobs, "stages": stages}


def totals(stages: Iterable[dict]) -> dict:
    out = _empty()
    for st in stages:
        for k in METRICS:
            out[k] += st[k]
    return out


def by_group(log: dict) -> dict[str, dict]:
    """``{job_group: METRICS totals + "jobs" count}``."""
    out: dict[str, dict] = {}
    for job, info in log["jobs"].items():
        out.setdefault(info["group"], {**_empty(), "jobs": 0})["jobs"] += 1
    for st in log["stages"].values():
        info = log["jobs"].get(st["job"])
        g = out.setdefault(info["group"] if info else "", {**_empty(), "jobs": 0})
        for k in METRICS:
            g[k] += st[k]
    return out
