"""The one partitioning policy sparkswift owns: width follows data volume.

Catalyst and AQE plan everything else. What they cannot know is how
much per-row work a caller will hang on a frame: single-file fixtures
scan as ONE partition and projections / mapInPandas preserve it, so a
heavy chain runs on one core unless spread (guide §2.3), while every
task costs ~10-12 ms of serialized scheduling + Python-runner
handshake in local mode, so spreading a few-hundred-row frame buys
nothing and pays ~0.4 s per 32-task wave. Hence, for every width
decision in the library (guide §2: never a constant tuned for either
local mode or the cluster):

    width = clamp(ceil(size / budget), floor, cap)

``size`` is the optimizer's byte estimate of the frame, or a row
count the caller already holds (the ``loop`` tier: join outputs
estimate in the TBs for sub-million-row frames). ``cap`` is
``defaultParallelism`` unless the tier says otherwise; with no
estimate the width is the tier's fallback (else its cap). A real
corpus pins every tier at its cap, so cluster plans do not depend on
the budgets. The tier is the caller's statement of its downstream
cost; the budgets are constants measured at sf0.1 (r16).

Callers apply a width in one of three ways: ``spread`` round-robins a
narrow input before per-row work (a no-op when the input is already
that wide), ``prepart`` hash-partitions on a key before a grouped UDF
or a loop join, and the listing census / carry chain / LPA adjacency
use ``width`` directly.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class Tier(NamedTuple):
    budget: int  # per-task size: estimate bytes, or rows for "loop"
    floor: int
    cap: int | None = None  # None: defaultParallelism
    fallback: int | None = None  # width with no estimate; None: cap


TIERS = {
    # per-row-HEAVY chains (regex, shingles, decode, all-pairs scoring):
    # full width pays — p20 3.0→7.9 s, d3 2.6→6.5 s without it
    "heavy": Tier(4 << 10, 2),
    # cheap chains (native expressions, candidate-bounded re-ranks,
    # header stubs): full width cost e16 9.6→7.1 s, mm32 6.7→3.7 s
    "light": Tier(32 << 20, 1),
    # ranged header census over a file listing (~64 MB of file bytes)
    "listing": Tier(16 << 20, 1),
    # carry-chain rounds: each is a job barrier, so fewer is faster
    "rounds": Tier(256 << 20, 2, cap=64, fallback=8),
    # iterative-loop frames by known row count: 100k beat 250k and
    # full width on g1/g6
    "loop": Tier(100_000, 2),
}


def width(df: DataFrame, tier: str, rows: int | None = None) -> int:
    """Task width for ``df`` under ``tier`` (see module docstring)."""
    t = TIERS[tier]
    cap = t.cap or df.sparkSession.sparkContext.defaultParallelism
    size = rows
    if size is None:
        try:
            size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except Exception:
            return t.fallback or cap
    return max(t.floor, min(cap, -(-size // t.budget)))


def _repartitioned_to(df: DataFrame) -> int:
    """Count of a round-robin ``Repartition`` at the top of the
    optimized plan (through ``Project``s), else 0 — read from the plan
    so that no upstream shuffle runs just to count partitions."""
    node = df._jdf.queryExecution().optimizedPlan()
    while node.nodeName() == "Project":
        node = node.child()
    if node.nodeName() == "Repartition" and node.shuffle():
        return node.numPartitions()
    return 0


def spread(df: DataFrame, tier: str = "heavy") -> DataFrame:
    """Round-robin ``df`` to its tier width before per-row work. No-op
    for streaming inputs (micro-batch parallelism comes from the
    source; ``.rdd`` is illegal there) and when the input already has
    that width — always true at real scale."""
    if df.isStreaming:
        return df
    w = width(df, tier)
    if w <= 1 or _repartitioned_to(df) >= w or df.rdd.getNumPartitions() >= w:
        return df
    return df.repartition(w)


def prepart(df: DataFrame, keys, rows: int | None = None) -> DataFrame:
    """Hash-repartition on ``keys`` before a grouped Arrow UDF or a
    loop join: the following ``groupBy``/join reuses the partitioning,
    and the explicit count stops AQE coalescing the stage into one task
    that serializes every group (the o9b lesson: 1500 groups on one
    core). Width is the ``loop`` tier of a known row count, else
    ``defaultParallelism``."""
    n = (
        df.sparkSession.sparkContext.defaultParallelism
        if rows is None
        else width(df, "loop", rows)
    )
    return df.repartition(n, *[F.col(k) for k in keys])
