"""O4 — grouped applies (reference ``df.swifter.groupby(...).apply``).

The reference implements this with driver-side value partitioning +
Ray workers (`/root/reference/swifter/swifter.py:553-639`): unique key
values are split into chunks with ``np.array_split`` (:591-596), each
chunk shipped to a Ray task that runs ``chunk.groupby(by).apply(func)``
(:600-603), results concat'd and ``sort_index()``-ed on the driver
(:628).

Spark subsumes the whole mechanism: ``df.groupBy(keys).applyInPandas``
hash-shuffles rows by **all** keys (strictly better than the
reference's first-key-only chunking, which is skew-prone — SURVEY.md
§2.4), runs the UDF per group on executors, and leaves the result
distributed (no driver concat — the scalability win).

Scalar-per-group reducers (the reference's tests mostly return one
float per group, swifter_tests.py:48-49) get a cheaper path:
``GROUPED_AGG`` pandas_udf inside ``groupBy().agg`` — partial
aggregation machinery applies and results stay tiny.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkswift.operators.spread import prepart
from sparkswift.plans.inference import schema_from_pandas


def _sample_groups_pandas(df: DataFrame, keys: list[str], n_groups: int = 20) -> pd.DataFrame:
    """Driver-side sample of *whole groups* (schema inference needs
    complete groups, not row samples). Bounded: n_groups distinct keys."""
    key_sample = df.select(*keys).distinct().limit(n_groups)
    sampled = df.join(F.broadcast(key_sample), on=keys, how="left_semi")
    return sampled.toPandas()


def keyed_frame(out, keyvals: dict) -> pd.DataFrame:
    """One group's UDF result as a frame, pandas ``groupby().apply``
    shape: a DataFrame as is, a Series as one row, anything else as a
    one-row ``result`` column; then each key the result lacks goes in
    front, in key order."""
    if isinstance(out, pd.DataFrame):
        res = out.reset_index(drop=True)
    elif isinstance(out, pd.Series):
        res = out.to_frame().T.reset_index(drop=True)
    else:
        res = pd.DataFrame({"result": [out]})
    for k, v in reversed(keyvals.items()):
        if k not in res.columns:
            res.insert(0, k, v)
    return res


def validate_level(df: DataFrame, level) -> list[str]:
    """``level=`` validation shared by groupby_apply and the accessor
    (ADVICE r4): pandas-style positional int levels have no meaning on
    a distributed frame — reject non-string levels with a helpful
    TypeError instead of a downstream analysis error, and verify the
    named levels exist as columns."""
    lv = [level] if not isinstance(level, (list, tuple)) else list(level)
    bad = [x for x in lv if not isinstance(x, str)]
    if bad:
        raise TypeError(
            "groupby(level=...) takes index-level NAMES; the "
            "distributed frame has no positional index — materialize "
            f"the level as a named column first (got {bad!r})"
        )
    missing = [x for x in lv if x not in df.columns]
    if missing:
        raise ValueError(f"level columns not in frame: {missing}")
    return lv


def groupby_apply(
    df: DataFrame,
    keys: list[str] | str | None = None,
    func: Callable | None = None,
    schema: T.StructType | str | None = None,
    subset: list[str] | None = None,
    sort_output: bool = False,
    dropna: bool = True,
    level: list[str] | str | None = None,
    as_index: bool = True,
    group_keys: bool = True,
    args: tuple = (),
    **kwds,
) -> DataFrame:
    """Group → pandas-frame UDF → frame, via ``applyInPandas``.

    ``subset`` mirrors the reference's ``groupby(...)[cols]`` column
    selection (swifter/swifter.py:584-586): the UDF sees only
    ``keys + subset``. ``sort_output=True`` mirrors the reference's
    ``sort_index()`` output ordering (swifter/swifter.py:628) — off by
    default because it is a full extra sort of the result: at scale a
    high-cardinality grouped apply pays a second shuffle purely for
    cosmetic row order, and relational consumers don't need it.

    ``level=`` mirrors pandas ``groupby(level=...)`` (reference route
    swifter/swifter.py:579,592, test swifter_tests.py:802-813): the
    engine models a pandas index as ordinary named columns (SURVEY.md
    §2.4 — there is no implicit index in a distributed frame), so a
    named level IS its materialized key column and grouping by level
    == grouping by that column. String level names only; positional
    int levels have no meaning once the index is explicit columns.

    ``as_index`` / ``group_keys`` are accepted for signature parity
    and are documented no-ops: Spark output always materializes group
    keys as ordinary columns, which is exactly pandas
    ``as_index=False`` shape; ``group_keys`` only affects pandas'
    index nesting, which doesn't exist here.

    The UDF receives the group's pandas DataFrame and may return a
    DataFrame (group→rows), a Series, or a scalar (group→one row);
    non-frame results are normalized to a one-row frame keyed by the
    group, matching pandas ``groupby().apply`` shape rules.
    """
    if level is not None:
        lv = validate_level(df, level)
        keys = lv if keys is None else ([keys] if isinstance(keys, str) else list(keys)) + lv
    if keys is None:
        raise TypeError("groupby_apply requires keys= or level=")
    if func is None:
        raise TypeError("groupby_apply requires func")
    keys = [keys] if isinstance(keys, str) else list(keys)
    work = df.select(*keys, *subset) if subset else df
    if dropna:
        # pandas groupby(dropna=True) default: null keys form no group;
        # Spark's groupBy keeps them, so filter to match
        for k in keys:
            work = work.filter(F.col(k).isNotNull())

    if args or kwds:
        base = func
        func = lambda g, _b=base: _b(g, *args, **kwds)  # noqa: E731

    def _run_one(pdf: pd.DataFrame) -> pd.DataFrame:
        keyvals = {k: pdf[k].iloc[0] for k in keys}
        body = pdf.drop(columns=keys) if len(pdf.columns) > len(keys) else pdf
        return keyed_frame(func(body), keyvals)

    if schema is None:
        from sparkswift.plans.inference import suppress_sample_output

        sample = _sample_groups_pandas(df if not subset else work, keys)
        with suppress_sample_output():
            pieces = [_run_one(g) for _, g in sample.groupby(keys, sort=False)]
        if not pieces:
            raise ValueError(
                "groupby_apply: cannot infer a schema from an empty "
                "input — pass schema= explicitly"
            )
        schema = schema_from_pandas(pd.concat(pieces, ignore_index=True))
    elif isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)

    # explicit key-repartition: the groupBy reuses it (no second
    # exchange) and AQE cannot coalesce the grouped-UDF stage into
    # one serialized task (the o9b lesson — see spread.prepart)
    out = prepart(work, keys).groupBy(*keys).applyInPandas(_run_one, schema)
    return out.orderBy(*keys) if sort_output else out


def cogroup_apply(
    left: DataFrame,
    right: DataFrame,
    keys: list[str] | str,
    func: Callable | None = None,
    schema: T.StructType | str | None = None,
    left_subset: list[str] | None = None,
    right_subset: list[str] | None = None,
    sort_output: bool = False,
    dropna: bool = True,
    args: tuple = (),
    **kwds,
) -> DataFrame:
    """TWO-frame grouped apply — align the per-key slices of two
    distributed frames through one pandas UDF, via
    ``groupBy().cogroup().applyInPandas`` (the cogrouped-map Arrow
    entry point; every other entry point — scalar, grouped-map,
    grouped-agg, mapInPandas, UDTF, withState — already has an
    operator in this package).

    Semantically this is the reference's grouped apply
    (`/root/reference/swifter/swifter.py:553-639` — one object,
    driver-chunked) extended to two objects: where the reference user
    writes ``left.groupby(k).apply(f)`` against a captured second
    frame, here both frames hash-shuffle ONCE on the full key and
    ``func(left_group, right_group)`` runs per key on the executor
    holding both slices. The canonical use is per-key frame alignment
    — ``pd.merge_asof``/``merge_ordered``/custom reconciliation — the
    shapes a single-frame grouped apply cannot express without
    collecting the second frame.

    ``func`` receives the two pandas frames (key columns dropped,
    mirroring :func:`groupby_apply`; a key with rows on only one side
    gets an EMPTY frame for the other — pandas cogroup semantics) and
    may return a DataFrame, Series, or scalar; non-frame results
    normalize to one row. Key columns are re-inserted from the group
    key if the result omits them. ``left_subset`` / ``right_subset``
    prune the columns shipped through Arrow (column pruning is manual
    on the UDF boundary — Catalyst cannot see into ``func``).

    Scale: one hash exchange per side on the key (exactly a shuffle
    join's cost), no driver participation, output stays distributed.
    Skewed keys bound the task size — salt or pre-aggregate the hot
    key's side first, as with any keyed shuffle.

    Schema-inference cost contract: when ``schema=None``, inference
    runs TWO extra bounded jobs (a broadcast-semi-joined ``toPandas``
    of ≤20 sampled whole keys per side) before the real plan executes.
    Pass ``schema=`` in hot paths to skip both jobs — the registered
    suite queries do.
    """
    if func is None:
        raise TypeError("cogroup_apply requires func")
    keys = [keys] if isinstance(keys, str) else list(keys)
    lwork = left.select(*keys, *left_subset) if left_subset else left
    rwork = right.select(*keys, *right_subset) if right_subset else right
    if dropna:
        for k in keys:
            lwork = lwork.filter(F.col(k).isNotNull())
            rwork = rwork.filter(F.col(k).isNotNull())

    if args or kwds:
        base = func
        func = lambda lg, rg, _b=base: _b(lg, rg, *args, **kwds)  # noqa: E731

    # Shared-lineage hazard: when both inputs derive from the SAME
    # scan (filter twice, cogroup), a non-key column carrying the same
    # expression id on both sides gets mis-pruned from the right plan
    # (observed on Spark 4.1: right's `ts` vanished from the Arrow
    # batch once a Filter sat between scan and cogroup). Renaming the
    # right side's non-key columns forces fresh attributes, which
    # plans correctly; the wrapper renames them back before `func`
    # sees the frame.
    r_nonkey = [c for c in rwork.columns if c not in keys]
    cg = {c: f"__cg_{c}" for c in r_nonkey}
    rwork = rwork.select(*keys, *[F.col(c).alias(cg[c]) for c in r_nonkey])
    uncg = {v: k for k, v in cg.items()}

    def _run_one(key_tuple, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        # Unconditional (ADVICE r10): a side whose columns are ALL keys
        # yields a zero-column frame that still carries the row count —
        # func's input shape must not depend on column count.
        lbody = lpdf.drop(columns=[k for k in keys if k in lpdf.columns])
        rbody = rpdf.drop(columns=[k for k in keys if k in rpdf.columns])
        rbody = rbody.rename(columns=uncg)
        return keyed_frame(func(lbody, rbody), dict(zip(keys, key_tuple)))

    if schema is None:
        from sparkswift.plans.inference import suppress_sample_output

        # whole-group sampling over the UNION of both sides' keys:
        # inference must see one-sided keys too (empty-frame branch)
        key_sample = (
            lwork.select(*keys)
            .unionByName(rwork.select(*keys))
            .distinct()
            .limit(20)
        )
        l_s = lwork.join(F.broadcast(key_sample), on=keys, how="left_semi").toPandas()
        r_s = rwork.join(F.broadcast(key_sample), on=keys, how="left_semi").toPandas()
        l_empty = l_s.iloc[0:0]
        r_empty = r_s.iloc[0:0]
        l_groups = {k: g for k, g in l_s.groupby(keys, sort=False)} if len(l_s) else {}
        r_groups = {k: g for k, g in r_s.groupby(keys, sort=False)} if len(r_s) else {}
        pieces = []
        with suppress_sample_output():
            for kt in dict.fromkeys([*l_groups, *r_groups]):
                kt_t = kt if isinstance(kt, tuple) else (kt,)
                pieces.append(
                    _run_one(
                        kt_t,
                        l_groups.get(kt, l_empty),
                        r_groups.get(kt, r_empty),
                    )
                )
        if not pieces:
            raise ValueError(
                "cogroup_apply: cannot infer a schema from empty inputs "
                "— pass schema= explicitly"
            )
        schema = schema_from_pandas(pd.concat(pieces, ignore_index=True))
    elif isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)

    # both sides explicitly key-repartitioned: cogroup's clustered
    # distribution is satisfied (no extra exchange) and AQE cannot
    # coalesce the cogrouped stage to one task (o8 measured 12.2 s on
    # 3 tasks before this — the o9b lesson's cogroup face)
    out = (
        prepart(lwork, keys).groupBy(*keys)
        .cogroup(prepart(rwork, keys).groupBy(*keys))
        .applyInPandas(_run_one, schema)
    )
    return out.orderBy(*keys) if sort_output else out


def groupby_agg_udf(
    df: DataFrame,
    keys: list[str] | str,
    agg_funcs: dict[str, tuple[str, Callable]],
    returns: T.DataType | str = "double",
    sort_output: bool = False,
) -> DataFrame:
    """Scalar-per-group reducers via grouped-agg pandas_udf.

    ``agg_funcs`` maps output column name → (input column, Series→scalar
    callable). Cheaper than ``applyInPandas`` for group→scalar shapes:
    Spark's agg operator handles spill and the result set is one row per
    group. ``sort_output`` defaults off — same rationale as
    :func:`groupby_apply`.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)

    # type-hint form (Series -> scalar == grouped agg); the wrapper
    # carries the annotations the caller's bare callable may lack,
    # replacing the deprecated F.PandasUDFType.GROUPED_AGG constant
    def _annotated(fn: Callable) -> Callable:
        def _agg(s: pd.Series) -> float:
            return fn(s)

        return _agg

    aggs = []
    for out_name, (in_col, fn) in agg_funcs.items():
        u = F.pandas_udf(_annotated(fn), returns)
        aggs.append(u(F.col(in_col)).alias(out_name))
    out = df.groupBy(*keys).agg(*aggs)
    return out.orderBy(*keys) if sort_output else out
