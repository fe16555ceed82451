"""The one-row-per-payload shell of operators/multimodal.py and the
census ops that had no end-to-end test, each against its DuckDB
oracle."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkswift import suite
from sparkswift.operators.multimodal import _map_rows


def test_map_rows_matches_driver_loop(spark):
    """bigint, int and string fields over four partitions, the first
    one empty, with Arrow batches of three rows so a partition spans
    several batches: the rows are the driver loop's rows."""

    def row(i, s):
        return i * 3, i % 7, f"{s}-{i}"

    df = (
        spark.range(0, 40, 1, numPartitions=4)
        .filter(F.col("id") >= 10)
        .select(F.col("id").alias("i"), F.concat(F.lit("x"), F.col("id") % 5).alias("s"))
    )
    sizes = df.rdd.glom().map(len).collect()
    assert sizes[0] == 0 and max(sizes) > 3
    fields = [("a", "bigint"), ("b", "int"), ("c", "string")]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        out = _map_rows(df, ["i", "s"], fields, row)
        got = sorted(tuple(r) for r in out.collect())
    finally:
        spark.conf.set(key, old)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("a", "bigint"), ("b", "int"), ("c", "string"),
    ]
    want = sorted(row(r.i, r.s) for r in df.collect())
    assert got == want and len(got) == 30


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize(
    "name",
    [
        "mm30_tiff_ccitt_decode_real",
        "mm38_wav_adpcm_decode_real",
        "mm39_wav_ms_adpcm_decode_real",
        "mm41_aiff_decode_real",
        "mm42_id3_tags_census",
    ],
)
def test_census_query_matches_oracle(spark, sf_dir, name):
    """tiff_bilevel_census, wav_adpcm_census, wav_ms_adpcm_census,
    aiff_census and id3_tags_census through their registry queries:
    every row equals the DuckDB oracle's."""
    import duckdb

    got = suite.queries()[name](spark, sf_dir).toPandas()
    con = duckdb.connect()
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, f)}')"
            )
    want = con.execute(suite.oracles()[name]).df()
    assert len(got) > 0
    pd.testing.assert_frame_equal(_norm(got), _norm(want))
