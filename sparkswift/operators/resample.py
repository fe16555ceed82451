"""O6 — resample (time-bucket regroup + per-bucket agg).

Reference: factory `/root/reference/swifter/swifter.py:174-220`, class
:766-824 — pandas ``resample(rule).apply(func)``: tumbling time
buckets, per-bucket aggregation, ``label``/``closed`` edge rules.

Spark mapping (SURVEY.md §2.1 O6): ``groupBy(F.window(ts, rule))`` —
a hash shuffle on the bucket key with map-side partial aggregation for
native reducers; ``applyInPandas`` per bucket for arbitrary UDFs.
``label='left'|'right'`` selects ``window.start`` vs ``window.end`` as
the emitted bucket timestamp (pandas default 'left' for most rules).

The streaming variant (same op + ``withWatermark``) lives in
sparkswift/streaming/ — identical bucket semantics on an unbounded
source.

Scale note: bucket count = time-range/rule, independent of row count;
partial agg means shuffle volume is O(buckets × groups), not O(rows).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkswift.operators.groupby import keyed_frame
from sparkswift.operators.rolling import _BUILTIN, _parse_duration_us


def _origin_shift_us(
    df: DataFrame,
    ts_col: str,
    rule_us: int,
    origin,
    offset: str | None,
    base: int,
    rule: str,
) -> int:
    """pandas resample alignment knobs → one window phase shift in µs.

    ``origin``: 'epoch' (default), 'start' (first ts), 'start_day'
    (midnight of first ts's day — both cost ONE tiny min() job), or an
    explicit timestamp. ``offset``: duration string added on top.
    ``base`` (legacy pandas): shift by ``base`` units of the rule's own
    unit ('1 hour', base=1 → 1 hour — pandas deprecated it in favor of
    ``offset``; kept for reference parity, swifter.py:174-220).
    """
    import datetime

    shift = 0
    if origin in (None, "epoch"):
        pass
    elif origin in ("start", "start_day"):
        first = df.agg(F.min(F.col(ts_col)).alias("m")).collect()[0].m
        if origin == "start_day":
            first = first.replace(hour=0, minute=0, second=0, microsecond=0)
        shift += int(first.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    else:
        ts = pd.Timestamp(origin)
        shift += int(ts.value // 1000)  # ns → µs
    if base:
        unit = rule.strip().split()[1]
        shift += base * _parse_duration_us(f"1 {unit}")
    if offset:
        shift += _parse_duration_us(offset)
    return shift % rule_us


def bucket_window(
    df: DataFrame,
    ts_col: str,
    rule: str,
    closed: str = "left",
    origin=None,
    offset: str | None = None,
    base: int = 0,
) -> Column:
    """The tumbling bucket as a native ``F.window`` Column, with pandas
    edge rules applied:

    * ``closed='left'`` (pandas fixed-freq default): [t0, t0+w) —
      plain ``F.window``.
    * ``closed='right'``: (t0, t0+w] — the event time is nudged back
      1 µs before windowing (timestamps are µs-precision, so this is
      exact: a boundary event lands in the earlier bucket, everything
      else is unchanged).
    * ``origin``/``offset``/``base`` become the window's ``startTime``
      phase — pure alignment, zero extra shuffle.
    """
    if closed not in ("left", "right"):
        raise ValueError("closed must be 'left' or 'right'")
    rule_us = _parse_duration_us(rule)
    shift = _origin_shift_us(df, ts_col, rule_us, origin, offset, base, rule)
    t = F.col(ts_col)
    if closed == "right":
        t = t - F.expr("INTERVAL 1 MICROSECOND")
    if shift:
        return F.window(t, rule, rule, f"{shift} microseconds")
    return F.window(t, rule)


def resample_agg(
    df: DataFrame,
    ts_col: str,
    rule: str,
    aggs: dict[str, tuple[str, str] | Column],
    label: str = "left",
    bucket_col: str = "bucket_ts",
    extra_keys: list[str] | None = None,
    closed: str = "left",
    origin=None,
    offset: str | None = None,
    base: int = 0,
    convention: str = "start",
) -> DataFrame:
    """Tumbling-window aggregation with native reducers.

    ``aggs`` maps output name → ``(column, builtin_agg)`` or a ready
    Column. ``rule`` is a Spark duration string ('1 hour', '3 minutes').
    ``extra_keys`` adds grouping keys alongside the time bucket
    (per-entity resample).

    Edge rules (reference swifter.py:174-220 forwards these to pandas):
    ``closed``/``origin``/``offset``/``base`` — see
    :func:`bucket_window`. ``label='left'|'right'`` emits the bucket's
    start vs end. ``convention`` only affects pandas PERIOD resampling
    (upsampling of PeriodIndex) — accepted for signature parity,
    validated, and a no-op for timestamp buckets exactly as in pandas.
    """
    if convention not in ("start", "end"):
        raise ValueError("convention must be 'start' or 'end'")
    win = bucket_window(df, ts_col, rule, closed, origin, offset, base)
    keys = [win] + [F.col(k) for k in (extra_keys or [])]
    agg_cols = []
    for out_name, spec in aggs.items():
        if isinstance(spec, Column):
            agg_cols.append(spec.alias(out_name))
        else:
            col, name = spec
            agg_cols.append(_BUILTIN[name](F.col(col)).alias(out_name))
    out = df.groupBy(*keys).agg(*agg_cols)
    edge = "start" if label == "left" else "end"
    return out.select(
        F.col(f"window.{edge}").alias(bucket_col),
        *(extra_keys or []),
        *[F.col(n) for n in aggs],
    )


def resample_apply_udf(
    df: DataFrame,
    ts_col: str,
    rule: str,
    func: Callable,
    schema: T.StructType | str,
    label: str = "left",
    bucket_col: str = "bucket_ts",
    extra_keys: list[str] | None = None,
    closed: str = "left",
    origin=None,
    offset: str | None = None,
    base: int = 0,
) -> DataFrame:
    """Arbitrary per-bucket pandas UDF: the bucket's rows arrive as a
    pandas DataFrame; the UDF returns a DataFrame, a Series (one row)
    or a scalar (one ``result`` row), as in
    :func:`~sparkswift.operators.groupby.groupby_apply`. Spark shuffles by
    (bucket, extra_keys) — each bucket fits one task at any total scale
    as long as rule × entity granularity keeps buckets bounded.
    Edge rules as in :func:`resample_agg`."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    edge = "start" if label == "left" else "end"
    keys = (extra_keys or [])
    bucketed = (
        df.withColumn("__w", bucket_window(df, ts_col, rule, closed, origin, offset, base))
        .withColumn(bucket_col, F.col(f"__w.{edge}"))
        .drop("__w")
    )

    def _per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        return keyed_frame(
            func(pdf), {k: pdf[k].iloc[0] for k in (bucket_col, *keys)}
        )

    return bucketed.groupBy(bucket_col, *keys).applyInPandas(_per_bucket, schema)


def resample_fill(
    df: DataFrame,
    ts_col: str,
    rule: str,
    values: dict[str, tuple[str, str] | Column],
    method: str = "ffill",
    extra_keys: list[str] | None = None,
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """Upsampling / gap-filling resample — pandas ``resample(rule)
    .agg(...).ffill()`` semantics: EVERY bucket between each group's
    first and last observation exists in the output, and empty buckets
    carry the previous bucket's value forward (``ffill``), zero
    (``zero``), or stay null (``none``).

    Mechanics (all relational): per-group min/max bucket bounds → a
    dense bucket spine via ``sequence`` + ``explode`` (generated, not
    shuffled) → left join of the per-bucket aggregates → a
    ``last(ignorenulls)`` fill window per group. Two shuffles total
    (bucket agg + spine join share the group key). Spine size is
    (span/rule) rows per group — generated data, independent of input
    row count, the standard time-series gap-fill shape.

    ``method="interpolate"`` fills each empty bucket linearly between
    its nearest non-empty neighbours (pandas ``resample().mean()
    .interpolate('linear')`` semantics): two ignore-nulls windows
    carry (bucket_ts, value) structs backward and forward, then one
    per-row double expression ``prev + (next-prev)·Δt/Δspan``. The
    spine's bounds come from OBSERVED buckets, so every gap has both
    neighbours — no head/tail extrapolation cases exist. Per-row IEEE
    arithmetic → still exactly SQL-oracle-able.
    """
    if method not in ("ffill", "zero", "none", "interpolate"):
        raise ValueError("method must be ffill|zero|none|interpolate")
    keys = list(extra_keys or [])
    agg = resample_agg(
        df, ts_col, rule, values, bucket_col=bucket_col, extra_keys=keys or None
    )
    bounds = agg.groupBy(*keys).agg(
        F.min(bucket_col).alias("__lo"), F.max(bucket_col).alias("__hi")
    )
    spine = bounds.select(
        *keys,
        F.explode(
            F.sequence("__lo", "__hi", F.expr(f"INTERVAL {rule}"))
        ).alias(bucket_col),
    )
    joined = spine.join(agg, on=[*keys, bucket_col], how="left")
    if method == "none":
        return joined
    out_cols = list(values.keys())
    if method == "zero":
        return joined.select(
            *keys,
            bucket_col,
            *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in out_cols],
        )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    if method == "ffill":
        return joined.select(
            *keys,
            bucket_col,
            *[F.last(F.col(c), ignorenulls=True).over(w).alias(c) for c in out_cols],
        )

    # interpolate: the forward carry runs over a DESCENDING running
    # frame (last ignore-nulls), NOT a [current, unbounded following]
    # frame — Spark evaluates unbounded-FOLLOWING frames by rescanning
    # the partition tail per row (O(n²) per partition; 43k spine rows
    # took 16 s), while both running frames are O(n) streaming
    # accumulators sharing one hash exchange (two in-partition sorts).
    wf = (
        Window.partitionBy(*keys)
        .orderBy(F.col(bucket_col).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = F.unix_micros(F.col(bucket_col)).cast("double")

    def _interp(c: str):
        pair = F.when(
            F.col(c).isNotNull(), F.struct(t.alias("t"), F.col(c).alias("v"))
        )
        prev = F.last(pair, ignorenulls=True).over(w)
        nxt = F.last(pair, ignorenulls=True).over(wf)
        frac = (t - prev["t"]) / (nxt["t"] - prev["t"])
        return F.when(F.col(c).isNotNull(), F.col(c).cast("double")).otherwise(
            prev["v"] + (nxt["v"] - prev["v"]) * frac
        )

    return joined.select(
        *keys,
        bucket_col,
        *[_interp(c).alias(c) for c in out_cols],
    )
