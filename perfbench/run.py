"""sparkswift benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Each run starts a fresh worker process
(``perfbench/worker.py``) on ``local[nproc]`` with its own Spark local,
scratch, temp and warehouse directories under ``perfbench/.work``, removed
afterwards. One client submits the workload's queries one after another
through the ``noop`` sink: a cold pass, at least two warm passes lasting at
least ``S`` seconds, then an untimed pass that checks every query's output
against DuckDB. The pass order is shuffled from the seed; ``apply_kernels``
also generates its input from it.

``--trace 0`` reports the end-to-end metrics: ``pass_s`` (a warm pass: the
sum of per-query medians), ``query_geomean_s`` (geometric mean of per-query
medians), ``cold_pass_s`` and ``setup_s`` (``get_spark`` through warm-up).
Failed and wrong queries are counted in ``failed`` out of ``attempted``;
their ratio is printed as ``fail_frac``. ``peak_rss_mb`` (VmHWM of the driver
JVM plus the driver Python process) is printed too, but carries no bound: it
moves by a third between runs of the same code, with the JVM's heap growth.

``--trace 1`` runs the workload with Spark's event log on and spans around
every sparkswift layer, recorded in every other warm pass, and reports the
per-layer metrics of ``perfbench/trace.py``, the tracing overhead (traced
minus untraced ``pass_s``) and whether each query ran as many jobs as in the
previous traced run of the workload.

The full record of each run (provenance, every pass, CPU probes, flagged
passes, per-query figures) is written to ``perfbench/.results``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RESULTS = os.path.join(BENCH, ".results")
DEADLINE_S = 175  # the worker is killed after this
STOP_S = 15  # the worker plans its warm passes to end this long before that

E2E = ("pass_s", "query_geomean_s", "cold_pass_s", "setup_s")


def provenance() -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "sparkswift", "**", "*.py"), recursive=True)):
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    return {
        "commit": commit,
        "source_sha256": digest.hexdigest(),
        "nproc": len(os.sched_getaffinity(0)),
        # every worker runs with SPARK_GRAFT_CPUS=nproc, i.e. local[nproc]
        "spark_graft_cpus": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
    }


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (the JVM, Python workers),
    then wait until none of them is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        try:
            proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            pass
        for _ in range(50):
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def launch(run_dir: str, args, *, trace: bool, soft: float, deadline: float) -> dict:
    """Run one worker process and return its record. The worker takes no
    warm pass after ``soft`` and is killed at ``deadline`` (monotonic times)."""
    local, scratch, tmp = (os.path.join(run_dir, d) for d in ("local", "scratch", "tmp"))
    for d in (local, scratch, tmp):
        os.makedirs(d, exist_ok=True)
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    events = os.path.join(run_dir, "events")
    if trace:
        os.makedirs(events)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            # Spark 4.1 rolls and zstd-compresses event logs by default
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    # inherited engine knobs would change what runs; every run gets the same
    inherited = ("SPARK_GRAFT_", "PYSPARK_", "SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS")
    env = {k: v for k, v in os.environ.items() if not k.startswith(inherited)}
    env.update(
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_SCRATCH=scratch,
        TMPDIR=tmp,
        # every JVM, the launcher's included: temp files in the run directory,
        # and no perf-data file, which would land in the host's /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=shlex.join([*submit, "pyspark-shell"]),
    )
    record = os.path.join(run_dir, f"record-{int(trace)}.json")
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--record", record,
        "--cache", os.path.join(BENCH, ".cache"),
        "--warehouse", os.path.join(run_dir, "warehouse"),
        "--budget", f"{soft - time.monotonic():.1f}",
    ]
    cmd += ["--trace"] if trace else []
    proc = subprocess.Popen(
        cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc)
    if code != 0:
        raise RuntimeError(f"worker for {args.workload} ended with {code}")
    with open(record, encoding="utf-8") as fh:
        rec = json.load(fh)
    if trace:
        from perfbench import eventlog

        (log_path,) = glob.glob(os.path.join(events, "*"))
        rec["eventlog"] = eventlog.parse(log_path)
    return rec


def _earlier_traced(workload: str, seed: int) -> tuple[str, dict] | None:
    """The latest earlier traced record of this workload in ``.results``,
    from the same seed when there is one: ``(file name, record)``."""
    paths = sorted(
        glob.glob(os.path.join(RESULTS, f"{workload}-seed*-trace1-*.json")), key=os.path.getmtime
    )
    same = [p for p in paths if os.path.basename(p).startswith(f"{workload}-seed{seed}-")]
    for path in [*reversed(same), *reversed(paths)]:
        with open(path, encoding="utf-8") as fh:
            rec = json.load(fh)
        if "per_query" in rec:
            return os.path.basename(path), rec
    return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its worker and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "sparkswift", "session.py")):
        print(f"perfbench: no sparkswift package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    started = time.monotonic()
    deadline = started + DEADLINE_S
    soft = deadline - STOP_S
    prov = provenance()
    run_dir = os.path.join(BENCH, ".work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        if args.trace:
            from perfbench import trace

            rec = launch(run_dir, args, trace=True, soft=soft, deadline=deadline)
            values, per_query = trace.per_layer(rec, rec.pop("eventlog"))
            earlier = _earlier_traced(args.workload, args.seed)
            values["engine.jobs_repeat"] = trace.jobs_repeat(
                per_query, earlier and earlier[1]["per_query"]
            )
            rec["jobs_repeat_against"] = earlier and earlier[0]
            metrics = {n: (values[n], trace.unit(n)) for n in trace.metric_names()}
            rec["per_query"] = per_query
        else:
            rec = launch(run_dir, args, trace=False, soft=soft, deadline=deadline)
            values = {**rec, "setup_s": rec["setup"]["setup_s"]}
            metrics = {n: (values[n], "s") for n in E2E}
        attempted, failed = rec["attempted"], rec["failed"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    prov["loadavg_end"] = os.getloadavg()
    rec.update(provenance=prov, fail_frac=failed / attempted, run_s=time.monotonic() - started)
    rec.pop("spans", None)
    os.makedirs(RESULTS, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    with open(os.path.join(RESULTS, name), "w", encoding="utf-8") as fh:
        json.dump(rec, fh, indent=1)

    if rec["cut_short"]:
        print(f"{args.workload}: took fewer warm passes to meet the deadline", file=sys.stderr)
    for w in rec["windows"]:
        if w["error"]:
            print(f"FAILED {w['query']} (pass {w['pass']}): {w['error']}", file=sys.stderr)
    for q, m in rec.get("per_query", {}).items():
        print(f"{args.workload} {q}: " + ", ".join(f"{k} {v:.6g}" for k, v in m.items()))
    for n, (v, u) in metrics.items():
        print(f"{args.workload} {n} = {v:.6g} {u}")
    if args.trace:
        against = rec["jobs_repeat_against"]
        verdict = {1.0: "repeats", 0.0: "differs from"}.get(values["engine.jobs_repeat"])
        print(
            f"{args.workload} engine.jobs per query {verdict} the traced run {against}"
            if against
            else f"{args.workload} engine.jobs: no earlier traced run to compare with"
        )
    print(f"{args.workload} input_s = {rec['input_s']:.6g} s (outside setup_s)")
    print(f"{args.workload} peak_rss_mb = {rec['peak_rss_mb']:.6g} MB")
    print(f"{args.workload} fail_frac = {failed / attempted:.6g} ({failed}/{attempted})")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
