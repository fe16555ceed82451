"""Per-layer metrics of a traced run, from its record, spans and event log.

Every figure except the ``session`` ones is summed over one traced warm pass
and reported as the median over the run's traced warm passes, so runs with
different pass counts compare. A layer's ``build_s`` is the self time of its
driver spans (span time minus nested layer spans); its ``build_jobs`` are
the jobs submitted while one of its spans was the innermost open span.
``trace.overhead_s`` is the traced minus the untraced ``pass_s`` of the same
run, i.e. the cost of the spans: Spark's event log is on for the whole run.
"""

from __future__ import annotations

import bisect
import statistics

from perfbench import eventlog

OPERATOR_LAYERS = (
    "apply dedup similarity text graph pca joins sampling packing profile events "
    "layout spread multimodal"
).split()
ENGINE = (
    "jobs stages tasks exec_run_s exec_cpu_s gc_s deser_s shuffle_read_mb shuffle_write_mb "
    "spill_mb peak_exec_mem_mb driver_gap_s"
).split()
PYTHON = ("run_s", "boot_s", "init_s", "sent_mb", "recv_mb")
STREAMING = ("batches", *eventlog.STREAM_SUMS)


def metric_names() -> list[str]:
    """Every per-layer metric, in report order."""
    names = ["session.start_s", "session.warmup_s", "plans.calls", "plans.s", "plans.sample_jobs"]
    for layer in OPERATOR_LAYERS:
        names += [f"{layer}.calls", f"{layer}.build_s", f"{layer}.build_jobs"]
    names += ["sources.load_s", "sources.write_s", "sources.input_mb", "sources.output_mb"]
    names += [f"streaming.{k}" for k in STREAMING]
    names += [f"engine.{k}" for k in ENGINE] + ["engine.jobs_repeat"]
    names += [f"python.{k}" for k in PYTHON]
    return names + ["trace.overhead_s"]


def unit(name: str) -> str:
    if name == "engine.jobs_repeat":
        return "flag"
    suffix = name.replace(".", "_").rsplit("_", 1)[-1]
    return {"s": "s", "mb": "MB", "ms": "ms"}.get(suffix, "count")


def _innermost_layer(spans: list[list], starts: list[float], t: float) -> str | None:
    # spans are sorted by start; the open span that started last is innermost
    i = bisect.bisect_right(starts, t) - 1
    while i >= 0:
        if spans[i][3] >= t:
            return spans[i][0]
        i -= 1
    return None


def per_layer(rec: dict, log: eventlog.Log) -> tuple[dict, dict]:
    """Returns ``({metric: value}, {query: {jobs, tasks, driver_gap_s}})``."""
    windows = rec["windows"]
    metrics = eventlog.window_metrics(log, [(w["start"], w["end"]) for w in windows])
    spans = sorted(rec.get("spans", []), key=lambda s: s[2])
    starts = [s[2] for s in spans]
    warm = rec["kept_traced_passes"]
    warm_windows = [(w["start"], w["end"], w["pass"]) for w in windows if w["pass"] in warm]
    per_pass: dict[int, dict[str, float]] = {k: {} for k in warm}

    def pass_of(t: float) -> int | None:
        return next((k for lo, hi, k in warm_windows if lo <= t <= hi), None)

    def add(k: int, name: str, v: float) -> None:
        per_pass[k][name] = per_pass[k].get(name, 0.0) + v

    for layer, _name, start, _end, self_s in spans:
        k = pass_of(start)
        if k is None:
            continue
        if layer == "plans":
            add(k, "plans.calls", 1)
            add(k, "plans.s", self_s)
        elif layer in OPERATOR_LAYERS:
            add(k, f"{layer}.calls", 1)
            add(k, f"{layer}.build_s", self_s)
        elif layer.startswith("sources."):
            add(k, f"{layer}_s", self_s)
    for job in log.jobs.values():
        k = pass_of(job.submit_s)
        if k is None:
            continue
        layer = _innermost_layer(spans, starts, job.submit_s)
        if layer == "plans":
            add(k, "plans.sample_jobs", 1)
        elif layer in OPERATOR_LAYERS:
            add(k, f"{layer}.build_jobs", 1)

    per_query: dict[str, dict[str, list[float]]] = {}
    for w, m in zip(windows, metrics):
        k = w["pass"]
        if k not in per_pass:
            continue
        for key in ENGINE:
            if key != "peak_exec_mem_mb":
                add(k, f"engine.{key}", m[key])
        peak = per_pass[k].get("engine.peak_exec_mem_mb", 0.0)
        per_pass[k]["engine.peak_exec_mem_mb"] = max(peak, m["peak_exec_mem_mb"])
        add(k, "sources.input_mb", m["input_mb"])
        add(k, "sources.output_mb", m["output_mb"])
        for key in STREAMING:
            add(k, f"streaming.{key}", m[key])
        for key in PYTHON:
            add(k, f"python.{key}", m[key])
        q = per_query.setdefault(w["query"], {"jobs": [], "tasks": [], "driver_gap_s": []})
        for key, values in q.items():
            values.append(m[key])

    out = {
        name: statistics.median(per_pass[k].get(name, 0.0) for k in warm)
        for name in metric_names()
    }
    out["session.start_s"] = rec["setup"]["start_s"]
    out["session.warmup_s"] = rec["setup"]["warmup_s"]
    out["trace.overhead_s"] = rec["traced_pass_s"] - rec["pass_s"]
    queries = {q: {k: statistics.median(v) for k, v in m.items()} for q, m in per_query.items()}
    return out, queries


def jobs_repeat(per_query: dict, earlier: dict | None) -> float:
    """Whether each query ran the same number of jobs per warm pass as in an
    earlier traced run: 1 if so, 0 if any query differs, -1 when there is no
    earlier traced run to compare with."""
    if earlier is None:
        return -1.0
    jobs = {q: m["jobs"] for q, m in per_query.items()}
    return float(jobs == {q: m["jobs"] for q, m in earlier.items()})
