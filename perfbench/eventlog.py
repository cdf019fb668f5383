"""Spark event log parsing: per-stage metrics, attributed to spans.

The engine runs with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``, so the log is one JSON-lines
file.  Jobs carry the span id that started them in the job's local
properties (``tracing.SPARK_SPAN_PROPERTY``); a stage belongs to the job
that lists it.  Each completed stage yields one record with the
counters the benchmark reports: task counts, executor run, CPU and GC
time, scan time, shuffle bytes and the Python worker (Arrow UDF)
counters.
"""

from __future__ import annotations

import json
from pathlib import Path

from tracing import SPARK_SPAN_PROPERTY

STAGE_FIELDS = ("tasks", "failed_tasks", "executor_run_ms", "cpu_ms",
                "gc_ms", "scan_ms", "shuffle_write_bytes",
                "shuffle_read_bytes", "python_run_ms", "python_bytes_sent",
                "python_bytes_returned")

# accumulable name -> (record field, scale to the field's unit)
_ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("executor_run_ms", 1.0),
    "internal.metrics.executorCpuTime": ("cpu_ms", 1e-6),
    "internal.metrics.jvmGCTime": ("gc_ms", 1.0),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1.0),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1.0),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1.0),
    "scan time": ("scan_ms", 1.0),
    "time to run Python workers": ("python_run_ms", 1.0),
    "data sent to Python workers": ("python_bytes_sent", 1.0),
    "data returned from Python workers": ("python_bytes_returned", 1.0),
}


def read_events(path: str | Path):
    """Events of one uncompressed, non-rolling event log; a truncated
    last line (log not closed) is skipped."""
    with open(path) as f:
        for line in f:
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                continue


def stage_records(events) -> list[dict]:
    """One record per completed stage: stage and job ids, the span id
    of the job, submission/completion times (epoch ms) and the
    STAGE_FIELDS counters."""
    stage_job: dict[int, int] = {}
    job_span: dict[int, str | None] = {}
    failed: dict[int, int] = {}
    stages = []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            job = e["Job ID"]
            job_span[job] = (e.get("Properties") or {}).get(SPARK_SPAN_PROPERTY)
            for sid in e.get("Stage IDs", ()):
                stage_job.setdefault(sid, job)
        elif kind == "SparkListenerTaskEnd":
            reason = (e.get("Task End Reason") or {}).get("Reason")
            if reason != "Success":
                sid = e["Stage ID"]
                failed[sid] = failed.get(sid, 0) + 1
        elif kind == "SparkListenerStageCompleted":
            stages.append(e["Stage Info"])
    out = []
    for si in stages:
        sid = si["Stage ID"]
        job = stage_job.get(sid)
        rec = {"stage": sid, "job": job,
               "span": job_span.get(job),
               "submit_ms": si.get("Submission Time"),
               "complete_ms": si.get("Completion Time"),
               **{f: 0.0 for f in STAGE_FIELDS}}
        rec["tasks"] = float(si.get("Number of Tasks", 0))
        rec["failed_tasks"] = float(failed.get(sid, 0))
        for acc in si.get("Accumulables", ()):
            hit = _ACCUMULABLES.get(acc.get("Name"))
            if hit is None:
                continue
            try:
                value = float(acc.get("Value"))
            except (TypeError, ValueError):
                continue
            rec[hit[0]] += value * hit[1]
        out.append(rec)
    return out


def job_records(events) -> list[dict]:
    """(job id, span id, submission time in epoch ms) of every job."""
    return [{"job": e["Job ID"],
             "span": (e.get("Properties") or {}).get(SPARK_SPAN_PROPERTY),
             "submit_ms": e.get("Submission Time")}
            for e in events if e.get("Event") == "SparkListenerJobStart"]


def find_log(log_dir: str | Path) -> Path | None:
    files = [p for p in Path(log_dir).iterdir()
             if p.is_file() and not p.name.endswith(".inprogress")]
    return max(files, key=lambda p: p.stat().st_mtime) if files else None
