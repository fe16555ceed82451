"""Offline parser for Spark's JSON event log.

The benchmark's traced run writes the log uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``)
and reads it here after the run ends. Jobs, stages and tasks are attributed
to the query windows the benchmark recorded (wall-clock intervals) by job
submission time; streaming progress events by their trigger timestamp. Jobs
of streaming micro-batches carry the stream's own description, so the
windows, not the descriptions, decide attribution.
"""

from __future__ import annotations

import bisect
import json
from dataclasses import dataclass, field
from datetime import datetime

MB = 1024 * 1024

# Spark's SQL metrics of the Python plan nodes, summed over nodes and tasks.
# Chained Python nodes in one stage overlap, so the sums can exceed wall time.
_PY_ACCUMS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "recv_mb",
}
_PY_SCALE = {"run_s": 1e-3, "boot_s": 1e-3, "init_s": 1e-3, "sent_mb": 1 / MB, "recv_mb": 1 / MB}


@dataclass
class Job:
    id: int
    submit_s: float
    end_s: float = 0.0
    description: str = ""
    stages: list[int] = field(default_factory=list)


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    completed_stages: set[int] = field(default_factory=set)
    tasks: list[dict] = field(default_factory=list)  # per task: job id + metric values
    progress: list[dict] = field(default_factory=list)  # streaming progress records


def _task_record(event: dict, job_id: int) -> dict:
    m = event.get("Task Metrics") or {}
    read = m.get("Shuffle Read Metrics") or {}
    write = m.get("Shuffle Write Metrics") or {}
    rec = {
        "job": job_id,
        "exec_run_s": m.get("Executor Run Time", 0) / 1e3,
        "exec_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "deser_s": m.get("Executor Deserialize Time", 0) / 1e3,
        "shuffle_read_mb": (read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0))
        / MB,
        "shuffle_write_mb": write.get("Shuffle Bytes Written", 0) / MB,
        "spill_mb": (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB,
        "peak_exec_mem_mb": m.get("Peak Execution Memory", 0) / MB,
        "input_mb": (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB,
        "output_mb": (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB,
    }
    for key in _PY_SCALE:
        rec[key] = 0.0
    for acc in (event.get("Task Info") or {}).get("Accumulables", []):
        key = _PY_ACCUMS.get(acc.get("Name"))
        if key is not None:
            rec[key] += float(acc.get("Update", 0)) * _PY_SCALE[key]
    return rec


def _progress_record(p: dict) -> dict:
    d = p.get("durationMs") or {}
    ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return {
        "time_s": ts,
        "trigger_ms": d.get("triggerExecution", 0),
        "add_batch_ms": d.get("addBatch", 0),
        "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
        "plan_ms": d.get("queryPlanning", 0),
        "state_rows": sum(op.get("numRowsUpdated", 0) for op in p.get("stateOperators") or []),
    }


def parse(path: str) -> Log:
    log = Log()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            e = json.loads(line)
            kind = e.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job = Job(
                    e["Job ID"],
                    e["Submission Time"] / 1e3,
                    description=props.get("spark.job.description") or "",
                    stages=list(e.get("Stage IDs", [])),
                )
                log.jobs[job.id] = job
                for sid in job.stages:
                    log.stage_job.setdefault(sid, job.id)
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(e["Job ID"])
                if job is not None:
                    job.end_s = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                log.completed_stages.add(e["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                job_id = log.stage_job.get(e["Stage ID"])
                if job_id is not None:
                    log.tasks.append(_task_record(e, job_id))
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                log.progress.append(_progress_record(e["progress"]))
    return log


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
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


ENGINE_SUMS = (
    "exec_run_s exec_cpu_s gc_s deser_s shuffle_read_mb shuffle_write_mb spill_mb "
    "input_mb output_mb"
).split()
STREAM_SUMS = ("trigger_ms", "add_batch_ms", "commit_ms", "plan_ms", "state_rows")


def window_metrics(log: Log, windows: list[tuple[float, float]]) -> list[dict]:
    """Engine, Python-worker and streaming metrics of each query window.

    ``windows`` are non-overlapping ``(start_s, end_s)`` wall-clock
    intervals. A job belongs to the window holding its submission time;
    its stages and tasks follow it. ``driver_gap_s`` is the window's length
    minus the union of its jobs' intervals clipped to the window."""
    starts = [w[0] for w in windows]

    def window_of(t: float) -> int | None:
        i = bisect.bisect_right(starts, t) - 1
        return i if i >= 0 and t <= windows[i][1] else None

    out = [
        {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "peak_exec_mem_mb": 0.0,
            "batches": 0,
            "job_ids": [],
            **{k: 0.0 for k in ENGINE_SUMS},
            **{k: 0.0 for k in _PY_SCALE},
            **{k: 0 for k in STREAM_SUMS},
        }
        for _ in windows
    ]
    job_window = {}
    for job in log.jobs.values():
        w = window_of(job.submit_s)
        if w is None:
            continue
        job_window[job.id] = w
        out[w]["jobs"] += 1
        out[w]["job_ids"].append(job.id)
        # a stage shared with an earlier job, or skipped, is not run again
        out[w]["stages"] += sum(
            1 for s in job.stages if log.stage_job[s] == job.id and s in log.completed_stages
        )
    for t in log.tasks:
        w = job_window.get(t["job"])
        if w is None:
            continue
        o = out[w]
        o["tasks"] += 1
        for k in (*ENGINE_SUMS, *_PY_SCALE):
            o[k] += t[k]
        o["peak_exec_mem_mb"] = max(o["peak_exec_mem_mb"], t["peak_exec_mem_mb"])
    for p in log.progress:
        w = window_of(p["time_s"])
        if w is None:
            continue
        out[w]["batches"] += 1
        for k in STREAM_SUMS:
            out[w][k] += p[k]
    for i, (lo, hi) in enumerate(windows):
        busy = union_s(
            [
                (max(lo, log.jobs[j].submit_s), min(hi, log.jobs[j].end_s or hi))
                for j in out[i]["job_ids"]
            ]
        )
        out[i]["driver_gap_s"] = max(0.0, (hi - lo) - busy)
    return out
