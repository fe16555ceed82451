"""sparkswift — a PySpark-native engine with swifter's capabilities.

Maps the reference's adaptive-apply surface (jmcarpenter2/swifter,
`/root/reference/swifter/swifter.py`) onto idiomatic Spark primitives:

* ``apply`` on a column  -> native Column expression (vectorized fast path,
  Python branches traced into ``CASE WHEN``)
  or Arrow-batched scalar ``pandas_udf`` (slow path)        [O1]
* ``apply(axis=1)``      -> native expression via a row proxy, or
  ``mapInPandas`` row batches (vectorized, else row-wise)   [O2]
* ``applymap``           -> per-column native expression or
  scalar pandas_udf                                         [O3]
* ``groupby().apply``    -> ``groupBy().applyInPandas``      [O4]
* ``rolling().apply``    -> ``Window.rowsBetween/rangeBetween`` [O5]
* ``resample().apply``   -> ``groupBy(F.window(ts, rule))``  [O6]

plus LLM-data-pipeline extensions (dedup, similarity search, text
analysis, multimodal columns) designed for 100 TB scale.
"""

from sparkswift.session import get_spark, stop_spark
from sparkswift.accessor import set_defaults, swift, SwiftFrame
from sparkswift.parallel_accessor import (
    register_parallel,
    register_parallel_dataframe_accessor,
    register_parallel_series_accessor,
)

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "stop_spark",
    "set_defaults",
    "swift",
    "SwiftFrame",
    "register_parallel",
    "register_parallel_dataframe_accessor",
    "register_parallel_series_accessor",
    "__version__",
]
