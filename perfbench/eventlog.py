"""Spark event-log reader: per-job work totals, grouped by job description.

Reads an uncompressed event log as Spark 4 writes it: either a single
JSON-lines file, or a rolling ``eventlog_v2_<app>/events_<n>_<app>``
directory. Each job gets its description (``spark.job.description``),
submission time and the task totals of the stages it ran: tasks,
executor run ms, GC ms, shuffle read/write bytes, spill bytes, input
bytes/records, output records and the bytes exchanged with Python
workers.

Task input metrics also count reads of cached and checkpointed blocks, so
the bytes a job read from files come from the SQL plan instead: the
``size of files read`` metric of each file scan, which Spark posts as a
driver accumulator update of the job's SQL execution. It is credited to
the execution's first job as ``scan_bytes``.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

#: SQL metric names Spark gives the JVM<->Python worker traffic
PYTHON_ACCUMULABLES = ("data sent to Python workers", "data returned from Python workers")
SCAN_BYTES_METRIC = "size of files read"
SQL_EVENTS = "org.apache.spark.sql.execution.ui."


@dataclass
class Job:
    job_id: int
    description: str
    submit_ms: int
    stage_ids: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_records: int = 0
    python_bytes: int = 0
    scan_bytes: int = 0
    execution_id: int | None = None


#: the additive Job fields, summed by ``totals``
COUNTERS = (
    "stages", "tasks", "executor_run_ms", "gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "input_records",
    "output_records", "python_bytes", "scan_bytes",
)


def event_files(path: str) -> list[list[str]]:
    """The event-log files under ``path``: one list per application, each
    in write order."""
    if os.path.isfile(path):
        return [[path]]
    apps = [
        sorted(glob.glob(os.path.join(d, "events_*")), key=_index)
        for d in sorted(glob.glob(os.path.join(path, "eventlog_v2_*")))
    ]
    plain = [
        [p] for p in sorted(glob.glob(os.path.join(path, "*")))
        if os.path.isfile(p) and not p.endswith(".inprogress")
    ]
    return [a for a in apps if a] or plain


def _index(p: str) -> int:
    m = re.match(r"events_(\d+)_", os.path.basename(p))
    return int(m.group(1)) if m else 0


def _events(files: list[str]):
    for f in files:
        if f.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise ValueError(f"compressed event log {f}: set spark.eventLog.compress=false")
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _num(v) -> int:
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return 0


def _scan_accumulators(plan: dict, out: set[int]) -> None:
    for m in plan.get("metrics") or []:
        if m.get("name") == SCAN_BYTES_METRIC:
            out.add(m["accumulatorId"])
    for child in plan.get("children") or []:
        _scan_accumulators(child, out)


def read_jobs(path: str) -> list[Job]:
    """Every job of every application logged under ``path``."""
    return [j for files in event_files(path) for j in _read_app(files)]


def _read_app(files: list[str]) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    seen_stages: set[int] = set()
    scan_accs: set[int] = set()
    scan_values: dict[int, dict[int, int]] = {}  # execution -> accumulator -> bytes
    for ev in _events(files):
        kind = ev.get("Event")
        if kind in (SQL_EVENTS + "SparkListenerSQLExecutionStart",
                    SQL_EVENTS + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _scan_accumulators(ev.get("sparkPlanInfo") or {}, scan_accs)
        elif kind == SQL_EVENTS + "SparkListenerDriverAccumUpdates":
            for acc, value in ev.get("accumUpdates") or []:
                if acc in scan_accs:
                    scan_values.setdefault(ev["executionId"], {})[acc] = _num(value)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exe = props.get("spark.sql.execution.id")
            job = Job(
                job_id=ev["Job ID"],
                description=props.get("spark.job.description") or "",
                submit_ms=_num(ev.get("Submission Time")),
                stage_ids=list(ev.get("Stage IDs") or []),
                execution_id=None if exe is None else int(exe),
            )
            jobs[job.job_id] = job
            for s in job.stage_ids:
                stage_job.setdefault(s, job.job_id)
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            if job is None:
                continue
            if ev["Stage ID"] not in seen_stages:
                seen_stages.add(ev["Stage ID"])
                job.stages += 1
            m = ev.get("Task Metrics") or {}
            job.tasks += 1
            job.executor_run_ms += _num(m.get("Executor Run Time"))
            job.gc_ms += _num(m.get("JVM GC Time"))
            sr = m.get("Shuffle Read Metrics") or {}
            job.shuffle_read_bytes += _num(sr.get("Remote Bytes Read")) + _num(
                sr.get("Local Bytes Read")
            )
            job.shuffle_write_bytes += _num(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written")
            )
            job.spill_bytes += _num(m.get("Memory Bytes Spilled")) + _num(
                m.get("Disk Bytes Spilled")
            )
            inp = m.get("Input Metrics") or {}
            job.input_bytes += _num(inp.get("Bytes Read"))
            job.input_records += _num(inp.get("Records Read"))
            job.output_records += _num((m.get("Output Metrics") or {}).get("Records Written"))
            for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
                if acc.get("Name") in PYTHON_ACCUMULABLES:
                    job.python_bytes += _num(acc.get("Update"))
    ordered = sorted(jobs.values(), key=lambda j: j.job_id)
    credited: set[int] = set()
    for job in ordered:
        exe = job.execution_id
        if exe in scan_values and exe not in credited:
            credited.add(exe)
            job.scan_bytes = sum(scan_values[exe].values())
    return ordered


def totals(jobs: list[Job]) -> dict[str, int]:
    out = {k: sum(getattr(j, k) for j in jobs) for k in COUNTERS}
    out["jobs"] = len(jobs)
    return out


def by_description(jobs: list[Job]) -> dict[str, dict[str, int]]:
    groups: dict[str, list[Job]] = {}
    for j in jobs:
        groups.setdefault(j.description, []).append(j)
    return {d: totals(js) for d, js in groups.items()}
