from sparkswift.plans.inference import (
    spark_type_for_dtype,
    sample_pandas,
    series_return_type,
    rows_schema,
)

__all__ = [
    "spark_type_for_dtype",
    "sample_pandas",
    "series_return_type",
    "rows_schema",
]
