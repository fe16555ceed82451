"""The benchmark's workloads: what each pass runs and how its outputs are checked.

A workload is a list of named queries. Every query is a callable
``(spark) -> DataFrame``; a timed pass forces each one through the ``noop``
sink. The untimed correctness pass checks each query's output against an
independent DuckDB computation over the same input files.

* ``registry`` -- registry queries on the committed sf0.01 fixture: the
  apply routes (O1-O5) and the cheapest caller of every other sparkswift
  layer. Inputs are small, so each call's fixed cost (sample and inference
  jobs, planning, job and worker start-up, micro-batch commits, store
  probes) dominates.
* ``apply_kernels`` -- the seven reference-notebook kernels over a seeded
  status-table analog written to parquet. The per-row work is two thirds of
  a warm pass: Arrow transfer, Python-worker CPU, codegen.
"""

from __future__ import annotations

import glob
import math
import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE_DIR = os.path.join(HERE, "data", "sf0.01")
FIXTURE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Every sparkswift layer is called by at least one query; each layer keeps
# its cheapest caller on the committed sf0.01 fixture, since the benchmark
# makes about fifty runs within an hour, each with set-up, a cold pass, warm
# passes and the check pass. Apply routes (the paper's surface): native
# expression, Arrow scalar UDF, mapInPandas rows, applyInPandas, per-entity
# rolling UDF. Then, by layer: incremental dedup against a store (dedup,
# text, store probes and appends), streaming micro-batches through a
# pure-Python ADPCM codec (streaming, multimodal, spread), filtered cosine
# top-k (similarity), link prediction (graph), Gram-matrix PCA (pca), as-of
# join (joins), sequence packing (packing, sampling, text), histogram
# (profile), OHLC bars (events) and z-order keys (layout).
REGISTRY = [
    "o1_apply_native",
    "o1_apply_udf",
    "o2_apply_rows",
    "o4_groupby_apply",
    "o5_rolling_udf",
    "d10_dedup_incremental",
    "st39_stream_adpcm_decode",
    "e15_filtered_topk",
    "g7_link_prediction",
    "e8_pca_gram",
    "j4_asof_join",
    "p6_pack_sequences",
    "agg15_histogram",
    "w7_ohlc_bars",
    "p15_zorder_key",
]

# Warm pass at 0.8M, 1.6M and 3.2M rows on a 4-core host: 4.6, 6.2 and
# 9.5 s, i.e. about 3 s per pass that does not scale with rows and 2 s per
# million rows. At 2M rows per-row work is near 60% of the pass.
KERNEL_ROWS = 2_000_000
KERNEL_FILES = 8  # one parquet file per task-sized slice, so scans run in parallel
KERNEL_CACHE_SEEDS = 8
_KERNEL_T0 = 1_377_986_220  # 2013-08-31 21:57:00 UTC, as in tools/baseline_compare.py
_YEAR_S = 31_536_000
_TIME_FMT_SPARK = "yyyy/MM/dd HH:mm:ss"
_TIME_FMT_DUCK = "%Y/%m/%d %H:%M:%S"
_HUMAN_FMT_SPARK = "EEEE, MMMM d, yyyy h:mm:ss a"
_HUMAN_FMT_DUCK = "%A, %B %-d, %Y %-I:%M:%S %p"


@dataclass
class Query:
    name: str
    build: Callable  # (spark) -> DataFrame, the timed form
    check: Callable  # (spark, duckdb connection) -> str | None, None when correct


@dataclass
class Workload:
    queries: list[Query]
    tables: dict[str, str]  # DuckDB view name -> parquet glob


def pass_order(queries: list[Query], seed: int, pass_no: int) -> list[Query]:
    """The query order of one pass: a shuffle drawn from the run's seed."""
    order = list(queries)
    random.Random(seed * 1_000_003 + pass_no).shuffle(order)
    return order


# --------------------------------------------------------------------------
# fixture workloads
# --------------------------------------------------------------------------


def _normalise(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Exact, order-insensitive comparison of two result frames.

    Both sides are sorted by every column; floats must be bit-equal (NaN
    matches NaN), every other column must be equal as strings."""
    a, b = _normalise(got), _normalise(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows vs oracle {len(b)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            av, bv = av.astype(float), bv.astype(float)
            same = (np.isnan(av) & np.isnan(bv)) | (av == bv)
        else:
            same = (pd.Series(av).fillna("<null>") == pd.Series(bv).fillna("<null>")).to_numpy()
        if not same.all():
            i = int(np.flatnonzero(~same)[0])
            return f"column {c} row {i}: {av[i]!r} vs oracle {bv[i]!r}"
    return None


def _fixture_workload(names: list[str]) -> Workload:
    from sparkswift import suite

    registry = suite.queries()
    oracles = suite.oracles()
    timed = dict(registry)
    # Names re-pointed to a verdict frame are timed on their raw operator
    # output, as bench.py does: the verdict frame re-runs the exact twin.
    timed.update(suite.raw_queries())

    def query(qname: str) -> Query:
        def build(spark, fn=timed[qname]):
            return fn(spark, FIXTURE_DIR)

        def check(spark, con, fn=registry[qname], sql=oracles[qname]):
            return compare_frames(fn(spark, FIXTURE_DIR).toPandas(), con.execute(sql).df())

        return Query(qname, build, check)

    tables = {t: os.path.join(FIXTURE_DIR, f"{t}.parquet") for t in FIXTURE_TABLES}
    return Workload([query(n) for n in names], tables)


# --------------------------------------------------------------------------
# apply_kernels
# --------------------------------------------------------------------------


def kernel_input(cache_dir: str, seed: int) -> str:
    """The seeded status-table analog as parquet, generated once per seed.

    Columns: ``id`` (dense row order), ``station_id``, ``bikes_available``,
    ``docks_available`` (never 0, so ratios never divide by zero) and
    ``time`` as the notebook's ``yyyy/MM/dd HH:mm:ss`` string. Returns the
    directory; generation happens outside any timed or set-up span."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = os.path.join(cache_dir, f"kernels-{KERNEL_ROWS}-seed{seed}")
    if os.path.isdir(out):
        os.utime(out)
        return out
    # keep the cache to the few most recently used seeds
    old = sorted(glob.glob(os.path.join(cache_dir, "kernels-*")), key=os.path.getmtime)
    for path in old[: max(0, len(old) - KERNEL_CACHE_SEEDS + 1)]:
        shutil.rmtree(path, ignore_errors=True)
    rng = np.random.default_rng(seed)
    n = KERNEL_ROWS
    secs = _KERNEL_T0 + rng.integers(0, _YEAR_S, n)
    table = pa.table(
        {
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "station_id": pa.array(rng.integers(0, 70, n, dtype=np.int32)),
            "bikes_available": pa.array(rng.integers(0, 27, n, dtype=np.int32)),
            "docks_available": pa.array(rng.integers(1, 27, n, dtype=np.int32)),
            # "yyyy-MM-dd HH:mm:ss" -> "yyyy/MM/dd HH:mm:ss"; strftime is 10x slower
            "time": pc.replace_substring(
                pa.array(secs.astype("datetime64[s]")).cast(pa.string()), "-", "/"
            ),
        }
    )
    tmp = out + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    step = math.ceil(n / KERNEL_FILES)
    for i in range(KERNEL_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(tmp, f"part-{i}.parquet"))
    os.rename(tmp, out)
    return out


def _gt_5(s: pd.Series) -> pd.Series:
    # the notebook's branchy, non-vectorizable UDF
    return s.map(lambda x: True if x > 5 else False)


def _kernels_workload(data_dir: str) -> Workload:
    from pyspark.sql import functions as F

    from sparkswift.operators.apply import apply_rows, apply_series
    from sparkswift.operators.rolling import rolling_agg_global

    def status(spark):
        return spark.read.parquet(data_dir)

    gt_5 = F.pandas_udf(_gt_5, "boolean")
    ratio = F.col("bikes_available") / (F.col("bikes_available") + F.col("docks_available"))
    parsed = F.to_timestamp("time", _TIME_FMT_SPARK)
    width = math.ceil(KERNEL_ROWS / KERNEL_FILES)

    # Each kernel: its timed DataFrame, a Spark fingerprint of that output,
    # and the DuckDB SQL computing the same fingerprint from the parquet.
    # Fingerprints are exact integers: counts, sums of floored scaled
    # doubles (per-row IEEE arithmetic is identical in both engines) and
    # sums of 40-bit prefixes of each string's md5.
    def scaled(c):
        return F.sum(F.floor(F.col(c) * F.lit(1e9)))

    def md5_sum(c):
        return F.sum(F.conv(F.substring(F.md5(F.col(c)), 1, 10), 16, 10).cast("long"))

    scan = "status"  # the DuckDB view over the same parquet files
    ratio_sql = "bikes_available / (bikes_available + docks_available)"
    kernels = {
        "k1_ratio_native": (
            lambda spark: status(spark).select(ratio.alias("ratio")),
            lambda df: df.agg(F.count("*"), scaled("ratio")),
            f"SELECT count(*), sum(CAST(floor(({ratio_sql}) * 1e9) AS BIGINT)) FROM {scan}",
        ),
        "k2_branch_pandas_udf": (
            lambda spark: status(spark).select(gt_5("bikes_available").alias("gt_5")),
            lambda df: df.agg(F.count("gt_5"), F.sum(F.col("gt_5").cast("long"))),
            f"SELECT count(*), count_if(bikes_available > 5) FROM {scan}",
        ),
        "k3_branch_apply_series": (
            lambda spark: apply_series(
                status(spark).select("bikes_available"),
                "bikes_available",
                lambda x: True if x > 5 else False,
                output_col="gt_5",
            ),
            lambda df: df.agg(F.count("gt_5"), F.sum(F.col("gt_5").cast("long"))),
            f"SELECT count(*), count_if(bikes_available > 5) FROM {scan}",
        ),
        "k4_to_timestamp": (
            lambda spark: status(spark).select(parsed.alias("ts")),
            lambda df: df.agg(F.count("ts"), F.sum(F.unix_seconds("ts"))),
            f"SELECT count(*), sum(CAST(epoch(strptime(time, '{_TIME_FMT_DUCK}')) AS BIGINT)) "
            f"FROM {scan}",
        ),
        "k5_date_format": (
            lambda spark: status(spark).select(
                F.date_format(parsed, _HUMAN_FMT_SPARK).alias("human")
            ),
            lambda df: df.agg(F.count("human"), md5_sum("human")),
            "SELECT count(*), sum(CAST(('0x' || substr(md5(strftime(strptime(time, "
            f"'{_TIME_FMT_DUCK}'), '{_HUMAN_FMT_DUCK}')), 1, 10)) AS BIGINT)) FROM {scan}",
        ),
        "k6_ratio_apply_rows": (
            lambda spark: apply_rows(
                status(spark).select("bikes_available", "docks_available"),
                lambda row: row["bikes_available"]
                / (row["bikes_available"] + row["docks_available"]),
                output_col="ratio",
            ),
            lambda df: df.agg(F.count("ratio"), scaled("ratio")),
            f"SELECT count(*), sum(CAST(floor(({ratio_sql}) * 1e9) AS BIGINT)) FROM {scan}",
        ),
        "k7_rolling_sum_global": (
            lambda spark: rolling_agg_global(
                status(spark).select("id", "bikes_available"),
                order_by="id",
                window=10,
                agg="sum",
                on="bikes_available",
                bucket_of=F.expr(f"id div {width}"),
                output_col="roll_sum",
            ),
            lambda df: df.agg(F.count("roll_sum"), F.sum("roll_sum").cast("long")),
            "SELECT count(r), sum(r)::BIGINT FROM (SELECT CASE WHEN row_number() OVER "
            "(ORDER BY id) >= 10 THEN sum(bikes_available) OVER (ORDER BY id ROWS BETWEEN "
            f"9 PRECEDING AND CURRENT ROW) END AS r FROM {scan})",
        ),
    }

    def query(name, build, fingerprint, sql) -> Query:
        def check(spark, con):
            got = [int(v) for v in fingerprint(build(spark)).collect()[0]]
            want = [int(v) for v in con.execute(sql).fetchone()]
            return None if got == want else f"fingerprint {got} vs oracle {want}"

        return Query(name, build, check)

    return Workload(
        [query(n, *k) for n, k in kernels.items()],
        {"status": os.path.join(data_dir, "*.parquet")},
    )


WORKLOADS = ("registry", "apply_kernels")


def load(name: str, seed: int, cache_dir: str) -> Workload:
    if name == "registry":
        return _fixture_workload(REGISTRY)
    if name == "apply_kernels":
        return _kernels_workload(kernel_input(cache_dir, seed))
    raise ValueError(f"unknown workload {name!r}; choose from {', '.join(WORKLOADS)}")
