"""Spark event-log reader for the traced run.

Reads what ``scripts/profile_query.py::parse_eventlog`` reads (jobs,
their stages and task counts) and adds per-task metrics (run time,
CPU, GC, shuffle write, input bytes and records) and the Python-worker
SQL accumulables of each stage. Jobs are then attributed to the
benchmark's spans by submission time: job groups cannot be used,
because ``takedown_everywhere`` submits from a thread pool and
``run_with_job_group_timeout`` sets its own group.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

#: SQL-metric names the Python exec nodes (mapInPandas and friends)
#: report as stage accumulables
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int
    stages: list[int]
    ran_stages: set[int] = field(default_factory=set)
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    input_bytes: int = 0
    input_records: int = 0
    py_time_ms: int = 0
    py_sent: int = 0


def find_log(eventlog_dir: str) -> str:
    """The single application log in ``eventlog_dir`` (a Spark 4
    rolling log is a directory of ``events_*`` files)."""
    logs = [os.path.join(eventlog_dir, f) for f in os.listdir(eventlog_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {eventlog_dir}, found {logs}")
    return logs[0]


def _lines(path: str):
    if os.path.isdir(path):
        parts = sorted(p for p in os.listdir(path) if p.startswith("events_"))
        for p in parts:
            with open(os.path.join(path, p)) as f:
                yield from f
    else:
        with open(path) as f:
            yield from f


def _acc_value(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse(path: str) -> dict[int, Job]:
    """Jobs by id, with their tasks' metrics and stages' accumulables."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in _lines(path):
        try:
            ev = json.loads(line)
        except ValueError:
            continue  # torn last line of a log still being written
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            j = Job(ev["Job ID"], ev.get("Submission Time", 0), 0, list(ev.get("Stage IDs", [])))
            jobs[j.id] = j
            for s in j.stages:
                stage_job[s] = j.id
        elif e == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j.end_ms = ev.get("Completion Time", 0)
        elif e == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            m = ev.get("Task Metrics") or {}
            if j is None:
                continue
            j.tasks += 1
            j.ran_stages.add(ev.get("Stage ID"))
            j.run_ms += m.get("Executor Run Time", 0)
            j.cpu_ns += m.get("Executor CPU Time", 0)
            j.gc_ms += m.get("JVM GC Time", 0)
            j.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            im = m.get("Input Metrics") or {}
            j.input_bytes += im.get("Bytes Read", 0)
            j.input_records += im.get("Records Read", 0)
        elif e == "SparkListenerStageCompleted":
            si = ev.get("Stage Info") or {}
            j = jobs.get(stage_job.get(si.get("Stage ID"), -1))
            if j is None:
                continue
            for acc in si.get("Accumulables") or []:
                name = acc.get("Name")
                if name == PY_TIME:
                    j.py_time_ms += _acc_value(acc.get("Value"))
                elif name == PY_SENT:
                    j.py_sent += _acc_value(acc.get("Value"))
    for j in jobs.values():
        if not j.end_ms:
            j.end_ms = j.submit_ms
    return jobs


def attribute(jobs: list[Job], spans: list) -> tuple[dict[int, object], list[Job]]:
    """Map each job to the innermost span whose [start, end] (widened to
    whole milliseconds, the event log's resolution) holds its
    submission time. Returns ({job id: span}, unattributed jobs)."""
    owner: dict[int, object] = {}
    orphans: list[Job] = []
    ordered = sorted(spans, key=lambda s: s.start)
    for j in jobs:
        best = None
        for s in ordered:
            lo, hi = int(s.start * 1000), int(s.end * 1000) + 1
            if s.start * 1000 - 1 > j.submit_ms:
                break
            if lo <= j.submit_ms <= hi and (best is None or s.end - s.start < best.end - best.start):
                best = s
        if best is None:
            orphans.append(j)
        else:
            owner[j.id] = best
    return owner, orphans


def busy_ms(jobs: list[Job]) -> int:
    """Wall time covered by at least one of ``jobs`` (jobs submitted
    from a thread pool overlap, so their walls must not be summed)."""
    total, cur_lo, cur_hi = 0, None, None
    for j in sorted(jobs, key=lambda j: j.submit_ms):
        if cur_hi is None or j.submit_ms > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = j.submit_ms, j.end_ms
        else:
            cur_hi = max(cur_hi, j.end_ms)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
