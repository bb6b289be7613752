"""Read a local, uncompressed Spark event log into per-job-group totals.

Only the listener events that carry work are kept: job starts (for the
job group and the stage ids), stage completions (for stage intervals)
and task ends (for task metrics and the SQL metrics of the Python
boundary). Times in the log are epoch milliseconds.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
MB = 1024 * 1024


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    ok: bool
    metrics: dict
    python_bytes: int


@dataclass
class EventLog:
    job_group: dict[int, str | None] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    # (stage id, attempt) -> (submission ms, completion ms)
    stage_span: dict[tuple[int, int], tuple[int, int]] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)


def _int(v) -> int:
    return int(float(v)) if v not in (None, "") else 0


def parse(path: str | Path) -> EventLog:
    log = EventLog()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                log.job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for s in ev.get("Stage IDs", []):
                    log.stage_job.setdefault(s, job)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                    log.stage_span[key] = (info["Submission Time"], info["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                py = sum(
                    _int(a.get("Update"))
                    for a in info.get("Accumulables", [])
                    if a.get("Name") in (PY_SENT, PY_RETURNED)
                )
                log.tasks.append(Task(
                    stage=ev["Stage ID"],
                    launch_ms=info["Launch Time"],
                    finish_ms=info["Finish Time"],
                    ok=ev.get("Task End Reason", {}).get("Reason") == "Success",
                    metrics=ev.get("Task Metrics") or {},
                    python_bytes=py,
                ))
    return log


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def totals(log: EventLog, prefix: str, window_ms: tuple[float, float]) -> dict[str, float]:
    """Operator and driver totals over the jobs whose group starts with
    `prefix`; `window_ms` is the wall interval the work ran in."""
    jobs = {j for j, g in log.job_group.items() if g and g.startswith(prefix)}
    stages = {s for s, j in log.stage_job.items() if j in jobs}
    spans = {k: v for k, v in log.stage_span.items() if k[0] in stages}
    tasks = [t for t in log.tasks if t.stage in stages]

    def tm(*keys) -> int:
        out = 0
        for t in tasks:
            v = t.metrics
            for k in keys[:-1]:
                v = v.get(k, {})
            out += _int(v.get(keys[-1]))
        return out

    skew = 1.0
    if spans:
        longest = max(spans, key=lambda k: spans[k][1] - spans[k][0])
        d = [t.finish_ms - t.launch_ms for t in tasks if t.stage == longest[0]]
        med = statistics.median(d) if d else 0
        skew = max(d) / med if d and med > 0 else 1.0
    lo, hi = window_ms
    return {
        "operators.jobs": len(jobs),
        "operators.stages": len(spans),
        "operators.tasks": len(tasks),
        "operators.failed_tasks": sum(1 for t in tasks if not t.ok),
        "operators.executor_run_s": tm("Executor Run Time") / 1e3,
        "operators.executor_cpu_s": tm("Executor CPU Time") / 1e9,
        "operators.gc_s": tm("JVM GC Time") / 1e3,
        "operators.shuffle_write_mb": tm("Shuffle Write Metrics", "Shuffle Bytes Written") / MB,
        "operators.shuffle_read_mb": (
            tm("Shuffle Read Metrics", "Remote Bytes Read")
            + tm("Shuffle Read Metrics", "Local Bytes Read")
        ) / MB,
        "operators.spill_mb": tm("Disk Bytes Spilled") / MB,
        "operators.task_skew": skew,
        "operators.python_data_mb": sum(t.python_bytes for t in tasks) / MB,
        "sources.input_mb": tm("Input Metrics", "Bytes Read") / MB,
        "driver.no_stage_s": ((hi - lo) - covered_ms(list(spans.values()), lo, hi)) / 1e3,
    }


def job_count(log: EventLog, group: str) -> int:
    return sum(1 for g in log.job_group.values() if g == group)
