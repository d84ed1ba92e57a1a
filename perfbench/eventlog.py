"""Fold a Spark event log into per-query JVM and streaming totals.

Each timed query runs under ``setJobGroup(<execution id>)``, so its
jobs carry that id in their ``spark.jobGroup.id`` property.  Streaming
micro-batch jobs run on the stream's own thread, whose group is the
stream's run id; those jobs (and any other job with an unknown group)
are attributed to the query whose wall-clock window contains the job's
submission time.  Tasks reach a query through stage -> job -> query.

Spark 4 writes a rolling log by default: a directory
``eventlog_v2_<app>`` holding ``events_<n>_<app>`` parts.  Both that
form and a single plain file are read; compression must be off.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import statistics
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


@dataclass(frozen=True)
class Window:
    """One timed query execution: its job-group id and wall-clock
    interval in epoch milliseconds."""

    exec_id: str
    start_ms: float
    end_ms: float


@dataclass
class JvmTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_ms: int = 0
    task_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    job_intervals: list[tuple[int, int]] = field(default_factory=list)
    batch_ms: list[int] = field(default_factory=list)
    addbatch_ms: int = 0
    walcommit_ms: int = 0


def event_files(path: str) -> list[str]:
    """The event-log parts under ``path`` in write order."""
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _dirs, files in os.walk(path):
        for name in files:
            m = re.match(r"events_(\d+)_", name)
            if m:
                found.append((root, int(m.group(1)), name))
            elif not name.startswith(".") and not name.startswith("appstatus"):
                found.append((root, 0, name))
    return [os.path.join(r, n) for r, _i, n in sorted(found)]


def read_events(path: str) -> Iterator[dict]:
    for fname in event_files(path):
        with open(fname) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def union_ms(intervals: Iterable[tuple[float, float]]) -> float:
    """Length of the union of half-open intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float):
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            yield s, e


def _iso_ms(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


class Attributor:
    """Map a job (by group id, else by submission time) to a window."""

    def __init__(self, windows: list[Window]):
        self.by_id = {w.exec_id: w for w in windows}
        self.by_time = sorted(windows, key=lambda w: w.start_ms)

    def at(self, t_ms: float) -> str | None:
        for w in self.by_time:
            if w.start_ms <= t_ms <= w.end_ms:
                return w.exec_id
        return None

    def job(self, group: str | None, submit_ms: float) -> str | None:
        if group in self.by_id:
            return group
        return self.at(submit_ms)


def fold(events: Iterable[dict], windows: list[Window]) -> dict[str, JvmTotals]:
    """Per-execution totals; work outside every window lands under
    the key ``""`` (set-up, cache clears, the benchmark's own jobs)."""
    attr = Attributor(windows)
    out: dict[str, JvmTotals] = {}
    job_owner: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_owner: dict[int, str] = {}

    def tot(key: str | None) -> JvmTotals:
        return out.setdefault(key or "", JvmTotals())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            owner = attr.job(props.get("spark.jobGroup.id"), ev["Submission Time"]) or ""
            jid = ev["Job ID"]
            job_owner[jid] = owner
            job_start[jid] = ev["Submission Time"]
            tot(owner).jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_owner.setdefault(sid, owner)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_owner:
                tot(job_owner[jid]).job_intervals.append(
                    (job_start[jid], ev["Completion Time"])
                )
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            tot(stage_owner.get(sid)).stages += 1
        elif kind == "SparkListenerTaskEnd":
            t = tot(stage_owner.get(ev["Stage ID"]))
            m = ev.get("Task Metrics") or {}
            t.tasks += 1
            t.task_run_ms += m.get("Executor Run Time", 0)
            t.task_cpu_ns += m.get("Executor CPU Time", 0)
            t.gc_ms += m.get("JVM GC Time", 0)
            t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            t.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            t.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            om = m.get("Output Metrics") or {}
            t.output_bytes += om.get("Bytes Written", 0)
            t.output_records += om.get("Records Written", 0)
        elif kind == PROGRESS_EVENT:
            p = ev["progress"]
            t = tot(attr.at(_iso_ms(p["timestamp"])))
            d = p.get("durationMs") or {}
            t.batch_ms.append(d.get("triggerExecution", 0))
            t.addbatch_ms += d.get("addBatch", 0)
            t.walcommit_ms += d.get("walCommit", 0)
    return out


def layer_metrics(t: JvmTotals, window: Window | None, cores: int) -> dict[str, float]:
    """The ``jvm.*``, ``sources.*`` and ``streaming.*`` layer metrics of
    one execution.  ``jvm.job_busy_s`` is the union of its jobs' run
    intervals clipped to the window, so overlapping jobs count once."""
    ivs = t.job_intervals
    if window is not None:
        ivs = list(clip(ivs, window.start_ms, window.end_ms))
    busy_s = union_ms(ivs) / 1000.0
    run_s = t.task_run_ms / 1000.0
    cpu_s = t.task_cpu_ns / 1e9
    return {
        "jvm.jobs": t.jobs,
        "jvm.stages": t.stages,
        "jvm.tasks": t.tasks,
        "jvm.job_busy_s": busy_s,
        "jvm.task_run_s": run_s,
        "jvm.task_cpu_s": cpu_s,
        "jvm.task_wait_s": max(0.0, run_s - cpu_s),
        "jvm.core_util": run_s / (busy_s * cores) if busy_s > 0 else 0.0,
        "jvm.gc_s": t.gc_ms / 1000.0,
        "jvm.shuffle_write_bytes": t.shuffle_write_bytes,
        "jvm.shuffle_read_bytes": t.shuffle_read_bytes,
        "jvm.spill_bytes": t.spill_bytes,
        "sources.input_bytes": t.input_bytes,
        "sources.output_bytes": t.output_bytes,
        "sources.output_records": t.output_records,
        "streaming.batches": len(t.batch_ms),
        "streaming.batch_p50_ms": statistics.median(t.batch_ms) if t.batch_ms else 0.0,
        "streaming.addbatch_s": t.addbatch_ms / 1000.0,
        "streaming.walcommit_s": t.walcommit_ms / 1000.0,
    }

