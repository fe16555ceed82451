"""Driver-side output-schema inference for opaque pandas UDFs.

Spark's ``pandas_udf`` / ``mapInPandas`` / ``applyInPandas`` need a
static result schema; pandas ``apply`` discovers it at runtime. The
reference solves the same problem for dask by executing the UDF on a
~1000-row random sample and using the result as dask ``meta``
(`/root/reference/swifter/swifter.py:260, 370`; sample machinery
`/root/reference/swifter/base.py:21, 46-47`). We replicate that trick
on the driver: pull a bounded sample, run the UDF once, map the result
dtypes onto Spark types, and pin the schema into the plan.

Same documented caveat as the reference (`README.md:90` there):
side-effecting UDFs run extra times during inference.

Scale note: the sample is bounded (default 1000 rows) and fetched with
``limit(n).toPandas()``, which is not free. It runs one job of two
stages: a scan task per input partition, each stopping after ``n``
rows, then a single-partition shuffle keeping ``n`` of them (on an
8-file parquet table at 4 cores: 2 stages, 5 tasks). The cost grows
with the input partition count, not with rows, and which partitions'
rows fill the sample depends on the shuffle's arrival order.
``limit(n).collect()`` would run Spark's incremental take (1 task
here), but collected Rows turn int32 columns into int64, changing the
sampled dtypes the route checks read.
"""

from __future__ import annotations

import logging
import os
from contextlib import contextmanager, redirect_stderr, redirect_stdout
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

SAMPLE_SIZE = 1000  # mirrors swifter/base.py:21


@contextmanager
def suppress_sample_output():
    """Silence stdout/stderr/logging while a user UDF runs driver-side
    for schema inference or route validation — the reference's
    ``suppress_stdout_stderr_logging`` (swifter/base.py:25-39, test
    swifter_tests.py:370-383): a printing UDF must emit output only
    from its REAL run, never from the hidden sample applies."""
    prev = logging.root.manager.disable
    logging.disable(logging.CRITICAL)
    try:
        with open(os.devnull, "w") as fnull:
            with redirect_stderr(fnull), redirect_stdout(fnull):
                yield
    finally:
        logging.disable(prev)


def spark_type_for_dtype(dtype: Any, sample_value: Any = None) -> T.DataType:
    """Map a numpy/pandas dtype (plus an optional example value for
    ``object`` disambiguation) onto a Spark SQL type."""
    dtype = np.dtype(dtype) if not isinstance(dtype, pd.api.types.CategoricalDtype) else np.dtype("O")
    if np.issubdtype(dtype, np.bool_):
        return T.BooleanType()
    if np.issubdtype(dtype, np.int8) or np.issubdtype(dtype, np.int16):
        return T.IntegerType()
    if np.issubdtype(dtype, np.int32):
        return T.IntegerType()
    if np.issubdtype(dtype, np.integer):
        return T.LongType()
    if np.issubdtype(dtype, np.float32):
        return T.FloatType()
    if np.issubdtype(dtype, np.floating):
        return T.DoubleType()
    if np.issubdtype(dtype, np.datetime64):
        return T.TimestampType()
    # object dtype: look at a concrete value
    v = sample_value
    if isinstance(v, str) or v is None:
        return T.StringType()
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, (int, np.integer)):
        return T.LongType()
    if isinstance(v, (float, np.floating)):
        return T.DoubleType()
    if isinstance(v, bytes):
        return T.BinaryType()
    if isinstance(v, (list, tuple, np.ndarray)):
        inner = v[0] if len(v) else None
        return T.ArrayType(spark_type_for_dtype(np.dtype("O"), inner))
    if isinstance(v, dict):
        if v:
            kv = next(iter(v.items()))
            return T.MapType(
                spark_type_for_dtype(np.dtype("O"), kv[0]),
                spark_type_for_dtype(np.dtype("O"), kv[1]),
            )
        return T.MapType(T.StringType(), T.StringType())
    return T.StringType()


def _first_non_null(s: pd.Series) -> Any:
    nn = s.dropna()
    return nn.iloc[0] if len(nn) else None


def sample_pandas(
    df: DataFrame,
    cols: list[str] | None = None,
    native: dict[str, Column] | None = None,
    n: int = SAMPLE_SIZE,
) -> pd.DataFrame:
    """The one bounded driver-side sample of an apply call (``limit`` —
    no full scan): the first ``n`` rows of ``cols`` (default: every
    column), plus each candidate native expression of ``native``
    evaluated in the same job as an extra column named by its key.

    Route validation, type inference and the vectorize check all read
    this one frame (swifter likewise takes one sample per call,
    swifter/base.py:21,46-47). A candidate that fails analysis is left
    out (analysis runs no job); if the job itself fails — a candidate
    raised at run time — the sample is fetched again without
    candidates, the only case that costs a second job. A candidate
    missing from the result was rejected."""
    base = df.limit(n)
    cols = ["*"] if cols is None else list(cols)
    picked = []
    for name, expr in (native or {}).items():
        try:
            df.select(expr)  # analysis only
        except Exception:
            continue
        picked.append(expr.alias(name))
    if picked:
        try:
            return base.select(*cols, *picked).toPandas()
        except Exception:
            pass
    return base.select(*cols).toPandas()


def series_return_type(out: pd.Series) -> T.DataType:
    """The Spark type of a sampled elementwise result (swifter's
    dask-``meta`` analog for O1)."""
    return spark_type_for_dtype(out.dtype, _first_non_null(out))


def schema_from_pandas(pdf: pd.DataFrame) -> T.StructType:
    fields = [
        T.StructField(str(c), spark_type_for_dtype(pdf[c].dtype, _first_non_null(pdf[c])), True)
        for c in pdf.columns
    ]
    return T.StructType(fields)


def rows_schema(out: pd.Series | pd.DataFrame) -> tuple[T.StructType, bool]:
    """The output schema of a sampled row-wise (axis=1) apply.

    Returns ``(schema, scalar_result)`` where ``scalar_result`` is True
    when the UDF returns one value per row (result column named
    ``result``) and False when it returns a Series per row (expanding
    into multiple columns — pandas ``result_type='expand'`` semantics,
    reference passthrough at swifter/swifter.py:352-365).
    """
    if isinstance(out, pd.DataFrame):
        return schema_from_pandas(out), False
    return T.StructType([T.StructField("result", series_return_type(out), True)]), True


def arrow_convertible(out: pd.Series, rtype: T.DataType, timezone: str) -> bool:
    """Whether a scalar pandas_udf returning ``rtype`` can ship ``out``:
    the same pandas-to-Arrow conversion the UDF's worker runs on each
    batch (unsafe casts allowed, as by Spark's default
    ``convertToArrowArraySafely=false``), done driver-side on the
    sampled outputs."""
    from pyspark.sql.pandas.serializers import ArrowStreamPandasSerializer
    from pyspark.sql.pandas.types import to_arrow_type

    serializer = ArrowStreamPandasSerializer(timezone, False, False)
    try:
        serializer._create_array(out, to_arrow_type(rtype), spark_type=rtype, arrow_cast=True)
    except Exception:
        return False
    return True
