"""Per-span executor metrics from a Spark event log.

Spark 4 writes a rolling event log: ``eventlog_v2_<app>/events_<n>_<app>``
files of one JSON event per line (uncompressed here, because the
``zstandard`` module the default codec needs is not installed). Each
task's metrics are summed into its stage, each stage into the first job
that lists it (later jobs list a stage they reuse as skipped), and each
job into the innermost benchmark span open at its submission time.
Stage call sites cannot do this mapping: they read like
``count at NativeMethodAccessorImpl.java:0``.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

# task-metric sums kept per job: name -> path into "Task Metrics"
_SUMS = {
    "run_ms": ("Executor Run Time",),
    "cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "shuffle_read_bytes": ("Shuffle Read Metrics", ("Remote Bytes Read", "Local Bytes Read")),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "spill_bytes": ("Disk Bytes Spilled",),
    "input_rows": ("Input Metrics", "Records Read"),
    "output_bytes": ("Output Metrics", "Bytes Written"),
}


@dataclass
class Job:
    job_id: int
    submitted_ms: int
    stage_ids: list[int]
    sums: dict[str, int] = field(default_factory=lambda: dict.fromkeys(_SUMS, 0))


@dataclass
class Span:
    """One benchmark call into a layer, in epoch milliseconds (the clock
    Spark stamps job submissions with)."""

    name: str
    start_ms: float
    end_ms: float
    measured: bool = True  # False for warm-up calls: they own jobs but report nothing


def event_files(log_dir: Path) -> list[Path]:
    """The rolling event files of every application under *log_dir*,
    in write order."""

    def index(p: Path) -> tuple[str, int]:
        m = re.match(r"events_(\d+)_", p.name)
        return (p.parent.name, int(m.group(1)) if m else 0)

    return sorted(log_dir.glob("eventlog_v2_*/events_*"), key=index)


def _metric(task_metrics: dict, path: tuple) -> int:
    node = task_metrics
    for key in path[:-1]:
        node = node.get(key, {})
    last = path[-1]
    if isinstance(last, tuple):
        return sum(int(node.get(k, 0)) for k in last)
    return int(node.get(last, 0))


def read_jobs(files: list[Path]) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    task_ends = []
    for path in files:
        with path.open() as fh:
            for line in fh:
                event = json.loads(line)
                kind = event["Event"]
                if kind == "SparkListenerJobStart":
                    job = Job(event["Job ID"], int(event["Submission Time"]), list(event["Stage IDs"]))
                    jobs[job.job_id] = job
                    for sid in job.stage_ids:
                        stage_job.setdefault(sid, job.job_id)
                elif kind == "SparkListenerTaskEnd" and event.get("Task Metrics"):
                    task_ends.append((event["Stage ID"], event["Task Metrics"]))
    for stage_id, metrics in task_ends:
        job_id = stage_job.get(stage_id)
        if job_id is None:
            continue
        sums = jobs[job_id].sums
        for name, path in _SUMS.items():
            sums[name] += _metric(metrics, path)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute(jobs: list[Job], spans: list[Span]) -> dict[int, list[Job]]:
    """span index -> jobs submitted while it was the innermost open span
    (the open span that started last). Jobs outside every span are
    dropped."""
    owned: dict[int, list[Job]] = {i: [] for i in range(len(spans))}
    for job in jobs:
        best = None
        for i, s in enumerate(spans):
            if s.start_ms <= job.submitted_ms <= s.end_ms and (
                best is None or s.start_ms >= spans[best].start_ms
            ):
                best = i
        if best is not None:
            owned[best].append(job)
    return owned


def span_totals(jobs: list[Job], spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name, over its measured calls: wall seconds, job count and
    the summed task metrics of the jobs attributed to it."""
    owned = attribute(jobs, spans)
    totals: dict[str, dict[str, float]] = {}
    for i, s in enumerate(spans):
        if not s.measured:
            continue
        t = totals.setdefault(s.name, {"wall_s": 0.0, "jobs": 0, **dict.fromkeys(_SUMS, 0)})
        t["wall_s"] += (s.end_ms - s.start_ms) / 1000.0
        t["jobs"] += len(owned[i])
        for job in owned[i]:
            for k, v in job.sums.items():
                t[k] += v
    return totals
