"""One benchmark run inside a fresh process; ``run.py`` launches it.

Sets up the session, then one client submits the workload's queries one
after another: a cold pass, at least two warm passes lasting at least the
requested seconds, and an untimed correctness pass. Everything measured goes
into one JSON record at ``--record``; nothing is printed on stdout.
"""

from __future__ import annotations

import argparse
import json
import math
import statistics
import time

MIN_WARM = 2
MAX_REPLACED = 1


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop, median of three. The host's
    speed comes and goes with other tenants; a slow probe means a slow host."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _pin_warehouse(path: str) -> None:
    """Keep catalog tables inside the run directory: the session factory
    names a fixed warehouse path, and this run must write only under its
    own directory."""
    from pyspark.sql import SparkSession

    get_or_create = SparkSession.Builder.getOrCreate

    def pinned(self):
        self.config("spark.sql.warehouse.dir", path)
        return get_or_create(self)

    SparkSession.Builder.getOrCreate = pinned


def _warm_up(spark, cpus: int) -> None:
    # one job that compiles a stage and starts a Python worker per core, the
    # two first-query costs bench.py warms before its first recorded query
    def ident(batches):
        yield from batches

    spark.range(10_000, numPartitions=cpus).selectExpr("id * 2 AS id").mapInPandas(
        ident, "id long"
    ).write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--record", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--budget", type=float, required=True)  # seconds from start
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    deadline = time.perf_counter() + args.budget
    _pin_warehouse(args.warehouse)
    import duckdb

    from perfbench import workloads
    from sparkswift.session import default_parallelism, get_spark

    rec: dict = {"workload": args.workload, "seed": args.seed}
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    _warm_up(spark, default_parallelism())
    t2 = time.perf_counter()
    rec["setup"] = {"start_s": t1 - t0, "warmup_s": t2 - t1, "setup_s": t2 - t0}

    recorder = None
    if args.trace:
        # before the workload binds any operator function; recording is off
        # outside the traced passes
        from perfbench import spans

        recorder = spans.Recorder(on=False)
        rec["wrapped_functions"] = spans.install(recorder)

    t = time.perf_counter()
    wl = workloads.load(args.workload, args.seed, args.cache)
    rec["input_s"] = time.perf_counter() - t

    sc = spark.sparkContext
    windows: list[dict] = []

    def run_query(q, pass_no: int, action) -> str | None:
        sc.setJobDescription(f"bench:{args.workload}:{q.name}")
        start = time.time()
        try:
            err = action(q)
        except Exception as e:  # a failing query is counted, not fatal
            err = f"{type(e).__name__}: {e}"[:400]
        end = time.time()
        sc.setJobDescription(None)
        # free operator checkpoints so no query measures its predecessor's storage
        for rdd in sc._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        windows.append({"pass": pass_no, "query": q.name, "start": start, "end": end, "error": err})
        return err

    def timed(q) -> None:
        q.build(spark).write.format("noop").mode("overwrite").save()

    def run_pass(pass_no: int, traced: bool) -> float:
        if recorder is not None:
            recorder.on = traced
        for q in workloads.pass_order(wl.queries, args.seed, pass_no):
            run_query(q, pass_no, timed)
        if recorder is not None:
            recorder.on = False
        return sum(w["end"] - w["start"] for w in windows if w["pass"] == pass_no)

    # Two warm passes at least, and more while the warm passes have lasted
    # less than --seconds: the JIT keeps speeding passes up, so a slow host
    # must not measure fewer, less-warm passes. A traced run takes two of
    # each kind at least, untraced-traced-traced-untraced, so the warming
    # trend cancels out of the tracing overhead. A CPU probe runs before
    # every warm pass; a pass whose probe ran 30% slower than the fastest
    # probe so far is flagged as hit by host interference and replaced by
    # another, once at most, since a replacement lengthens a run on an
    # already slow host. (A probe taken before the JVM starts is no
    # reference: between passes the JVM's own threads slow it by a third.)
    # A run nearing the end of its --budget stops taking passes, keeping one
    # of each kind, rather than be killed; its record says ``cut_short``.
    kinds = (False, True) if args.trace else (False,)
    passes = [run_pass(0, traced=False)]
    traced_of = {0: False}
    probes: list[float] = []
    flagged: list[int] = []

    def clean(traced: bool) -> list[int]:
        return [
            k for k in range(1, len(passes)) if traced_of[k] == traced and k not in flagged
        ]

    warm_start = time.perf_counter()
    cut_short = False
    while True:
        # the kind with the fewest clean passes goes next; on a tie the kind
        # of the last pass, untraced at first
        order = reversed(kinds) if traced_of[len(passes) - 1] else kinds
        kind = min(order, key=lambda t: len(clean(t)))
        if len(clean(kind)) >= MIN_WARM and time.perf_counter() - warm_start >= args.seconds:
            break
        if len(flagged) > MAX_REPLACED:
            break
        # time for one more pass, and for the check pass after it
        needed = 2 * passes[-1]
        if len(passes) > len(kinds) and time.perf_counter() + needed > deadline:
            cut_short = True
            break
        probes.append(cpu_probe())
        if probes[-1] > 1.3 * min(probes):
            flagged.append(len(passes))
        traced_of[len(passes)] = kind
        passes.append(run_pass(len(passes), traced=kind))

    jvm = getattr(getattr(sc, "_gateway", None), "proc", None)
    rec["peak_rss_mb"] = _vm_hwm_mb("self") + (_vm_hwm_mb(jvm.pid) if jvm else 0.0)

    def kept(traced: bool) -> list[int]:
        ks = clean(traced)
        return ks if len(ks) >= MIN_WARM else [k for k in traced_of if k and traced_of[k] == traced]

    def medians(ks: list[int]) -> dict[str, float]:
        per_query: dict[str, list[float]] = {}
        for w in windows:
            if w["pass"] in ks:
                per_query.setdefault(w["query"], []).append(w["end"] - w["start"])
        return {n: statistics.median(v) for n, v in per_query.items()}

    query_median = medians(kept(False))
    rec.update(
        cold_pass_s=passes[0],
        warm_passes_s=passes[1:],
        traced_passes=[k for k in traced_of if traced_of[k]],
        probes_s=probes,
        flagged_passes=flagged,
        kept_passes=kept(False),
        cut_short=cut_short,
        # a warm pass is the queries run back to back, so its typical wall
        # time is the sum of their medians; steadier than the median of a
        # handful of pass totals when host bursts hit single queries
        pass_s=sum(query_median.values()),
        query_median_s=query_median,
        query_geomean_s=math.exp(statistics.fmean(math.log(v) for v in query_median.values())),
    )
    if args.trace:
        rec["kept_traced_passes"] = kept(True)
        rec["traced_pass_s"] = sum(medians(kept(True)).values())

    con = duckdb.connect()
    for view, files in wl.tables.items():
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{files}')")
    for q in wl.queries:
        run_query(q, -1, lambda q: q.check(spark, con))
    con.close()

    rec["windows"] = windows
    rec["attempted"] = len(windows)
    rec["failed"] = sum(1 for w in windows if w["error"])
    if recorder is not None:
        rec["spans"] = [[s.layer, s.name, s.start, s.end, s.self_s] for s in recorder.spans]
    spark.stop()
    with open(args.record, "w", encoding="utf-8") as fh:
        json.dump(rec, fh)


if __name__ == "__main__":
    main()
