"""Spark event-log reader and span attribution.

Reads an uncompressed event log (``spark.eventLog.compress=false``) in
either layout Spark writes: a single ``<app-id>`` file, or Spark 4's
rolling ``eventlog_v2_<app-id>/events_<n>_<app-id>`` directory. Only
the events the benchmark needs are kept: job intervals, and per-task
metrics keyed by job.

Jobs are attributed to benchmark spans by time interval, not by job
group: jobs that Structured Streaming launches from its own thread do not
inherit the caller's ``setJobGroup``.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

_ROLLING_RE = re.compile(r"^events_(\d+)_")


@dataclass
class Task:
    cpu_ns: int = 0
    gc_ms: int = 0
    run_ms: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    output_records: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int = 0
    stages: tuple[int, ...] = ()
    tasks: list[Task] = field(default_factory=list)


def log_files(path: str | Path) -> list[Path]:
    """The event-log files for one application, in write order.

    ``path`` is an application's log (file or rolling directory), or an
    event-log directory holding exactly one application.
    """
    path = Path(path)
    if path.is_file():
        return [path]
    rolled = sorted(
        (p for p in path.iterdir() if _ROLLING_RE.match(p.name)),
        key=lambda p: int(_ROLLING_RE.match(p.name).group(1)),
    )
    if rolled:
        return rolled
    apps = [p for p in path.iterdir() if not p.name.startswith(".")]
    if len(apps) != 1:
        raise ValueError(f"{path}: expected one application log, found {len(apps)}")
    return log_files(apps[0])


def _task(metrics: dict) -> Task:
    shuffle = metrics.get("Shuffle Write Metrics", {})
    inp = metrics.get("Input Metrics", {})
    out = metrics.get("Output Metrics", {})
    return Task(
        cpu_ns=int(metrics.get("Executor CPU Time", 0)),
        gc_ms=int(metrics.get("JVM GC Time", 0)),
        run_ms=int(metrics.get("Executor Run Time", 0)),
        input_bytes=int(inp.get("Bytes Read", 0)),
        input_records=int(inp.get("Records Read", 0)),
        output_bytes=int(out.get("Bytes Written", 0)),
        output_records=int(out.get("Records Written", 0)),
        shuffle_write_bytes=int(shuffle.get("Shuffle Bytes Written", 0)),
        spill_bytes=int(metrics.get("Memory Bytes Spilled", 0))
        + int(metrics.get("Disk Bytes Spilled", 0)),
    )


def parse(path: str | Path) -> list[Job]:
    """Jobs of one application with their tasks, ordered by job id.

    A task whose stage belongs to no job (none in practice) is dropped;
    a job that never ended keeps ``end_ms == 0``.
    """
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = int(ev["Job ID"])
                    stages = tuple(int(s) for s in ev.get("Stage IDs", ()))
                    jobs[jid] = Job(jid, int(ev["Submission Time"]), stages=stages)
                    for s in stages:
                        stage_job[s] = jid
                elif kind == "SparkListenerJobEnd":
                    jid = int(ev["Job ID"])
                    if jid in jobs:
                        jobs[jid].end_ms = int(ev["Completion Time"])
                elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
                    jid = stage_job.get(int(ev["Stage ID"]))
                    if jid is not None:
                        jobs[jid].tasks.append(_task(ev["Task Metrics"]))
    return [jobs[j] for j in sorted(jobs)]


@dataclass
class SpanStats:
    wall_s: float
    jobs: int
    in_jobs_s: float
    outside_jobs_s: float
    tasks: int
    task_cpu_s: float
    gc_s: float
    input_bytes: int
    input_records: int
    output_bytes: int
    output_records: int
    shuffle_write_bytes: int
    spill_bytes: int


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total = 0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_stats(jobs: list[Job], spans: list[tuple[float, float]]) -> SpanStats:
    """Aggregate the jobs submitted inside any of ``spans`` (wall-clock
    seconds since the epoch, as ``time.time()`` gives them).

    ``in_jobs_s`` is the union of job intervals clipped to the spans, so
    concurrent jobs are not double-counted; ``outside_jobs_s`` is the rest
    of the spans' wall time (plan construction, Catalyst, py4j, commits).
    """
    wall_ms = 0.0
    mine: list[Job] = []
    covered = 0
    for lo_s, hi_s in spans:
        lo, hi = lo_s * 1000.0, hi_s * 1000.0
        wall_ms += hi - lo
        inside = [j for j in jobs if lo <= j.start_ms <= hi]
        mine.extend(inside)
        covered += _union_ms(
            [(max(j.start_ms, lo), min(j.end_ms or hi, hi)) for j in inside]
        )
    tasks = [t for j in mine for t in j.tasks]
    return SpanStats(
        wall_s=wall_ms / 1000.0,
        jobs=len(mine),
        in_jobs_s=covered / 1000.0,
        outside_jobs_s=max(0.0, wall_ms - covered) / 1000.0,
        tasks=len(tasks),
        task_cpu_s=sum(t.cpu_ns for t in tasks) / 1e9,
        gc_s=sum(t.gc_ms for t in tasks) / 1000.0,
        input_bytes=sum(t.input_bytes for t in tasks),
        input_records=sum(t.input_records for t in tasks),
        output_bytes=sum(t.output_bytes for t in tasks),
        output_records=sum(t.output_records for t in tasks),
        shuffle_write_bytes=sum(t.shuffle_write_bytes for t in tasks),
        spill_bytes=sum(t.spill_bytes for t in tasks),
    )
