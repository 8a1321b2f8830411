"""Read Spark's own event log (uncompressed JSON lines) with stdlib json.

Jobs are attributed to the benchmark's spans through the ``bench.span``
local property, which Spark copies into each job's start event; streaming
jobs carry ``streaming.sql.batchId`` the same way.  Task figures come from
``SparkListenerTaskEnd``: the task metrics plus the SQL accumulables that
the Python-worker operators publish.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

SPAN_PROPERTY = "bench.span"
BATCH_PROPERTY = "streaming.sql.batchId"

# SQL accumulables published by the Arrow/pandas Python operators
PY_BYTES_SENT = "data sent to Python workers"
PY_BYTES_RETURNED = "data returned from Python workers"
PY_INIT_MS = ("time to start Python workers", "time to initialize Python workers")
PY_RUN_MS = "time to run Python workers"

TASK_FIELDS = (
    "run_ms", "cpu_ms", "gc_ms", "deser_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
    "py_run_ms", "py_init_ms", "py_bytes_sent", "py_bytes_returned",
)


@dataclass
class Job:
    job_id: int
    submitted_ms: int
    completed_ms: int = 0
    span: str | None = None
    batch_id: int | None = None
    stage_ids: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    totals: dict[str, float] = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0.0))


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)


def _task_figures(event: dict) -> dict[str, float]:
    m = event.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    out = {
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "deser_ms": m.get("Executor Deserialize Time", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "py_run_ms": 0.0, "py_init_ms": 0.0, "py_bytes_sent": 0.0, "py_bytes_returned": 0.0,
    }
    for acc in (event.get("Task Info") or {}).get("Accumulables", []):
        name, update = acc.get("Name"), acc.get("Update")
        if not isinstance(update, (int, float)):
            try:
                update = float(update)
            except (TypeError, ValueError):
                continue
        if name == PY_RUN_MS:
            out["py_run_ms"] += update
        elif name in PY_INIT_MS:
            out["py_init_ms"] += update
        elif name == PY_BYTES_SENT:
            out["py_bytes_sent"] += update
        elif name == PY_BYTES_RETURNED:
            out["py_bytes_returned"] += update
    return out


def log_files(directory: str) -> list[str]:
    return sorted(
        os.path.join(directory, f) for f in os.listdir(directory)
        if not f.startswith(".") and os.path.isfile(os.path.join(directory, f))
    )


def parse(paths: list[str]) -> EventLog:
    log = EventLog()
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                event = json.loads(line)
                kind = event.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = event.get("Properties") or {}
                    batch = props.get(BATCH_PROPERTY)
                    job = Job(
                        job_id=event["Job ID"],
                        submitted_ms=event.get("Submission Time", 0),
                        span=props.get(SPAN_PROPERTY),
                        batch_id=int(batch) if batch is not None else None,
                        stage_ids=list(event.get("Stage IDs", [])),
                    )
                    log.jobs[job.job_id] = job
                    for sid in job.stage_ids:
                        stage_job[sid] = job.job_id
                elif kind == "SparkListenerJobEnd":
                    job = log.jobs.get(event["Job ID"])
                    if job is not None:
                        job.completed_ms = event.get("Completion Time", 0)
                elif kind == "SparkListenerStageCompleted":
                    sid = (event.get("Stage Info") or {}).get("Stage ID")
                    job = log.jobs.get(stage_job.get(sid, -1))
                    if job is not None:
                        job.stages += 1
                elif kind == "SparkListenerTaskEnd":
                    job = log.jobs.get(stage_job.get(event.get("Stage ID"), -1))
                    if job is None:
                        continue
                    job.tasks += 1
                    for k, v in _task_figures(event).items():
                        job.totals[k] += v
    return log


def parse_dir(directory: str) -> EventLog:
    return parse(log_files(directory))


def busy_ms(jobs: list[Job]) -> float:
    """Wall time covered by the union of the jobs' [submit, complete]."""
    spans = sorted((j.submitted_ms, j.completed_ms) for j in jobs if j.completed_ms)
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in spans:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
