"""The width policy (operators.spread): one clamp per tier, and a
spread that reads an upstream repartition from the plan instead of
running it."""

import pytest

from sparkswift.operators.spread import TIERS, spread, width
from sparkswift.sources import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


# uncapped width of the documents fixture (~64 KB, 500 rows) per tier
FIXTURE_WIDTH = {"heavy": 16, "light": 1, "listing": 1, "rounds": 2, "loop": 2}


@pytest.mark.parametrize("tier", sorted(TIERS))
def test_width_clamps_to_floor_and_cap(spark, docs, tier):
    """Floor for a one-row frame, cap for a frame far past any budget
    (``spark.range(n)`` estimates 8·n bytes and runs nothing), and the
    fixture-scale width the suite's plans were tuned on."""
    t = TIERS[tier]
    cap = t.cap or spark.sparkContext.defaultParallelism
    if tier == "loop":  # sized by a known row count, not the estimate
        small, big, fixture = [width(docs, tier, rows=r) for r in (1, 10**12, docs.count())]
    else:
        small, big, fixture = [
            width(df, tier) for df in (spark.range(1), spark.range(10**15), docs)
        ]
    assert small == t.floor
    assert big == cap
    assert fixture == min(cap, FIXTURE_WIDTH[tier])


def test_light_spread_of_fixture_is_a_no_op(docs):
    assert spread(docs, "light") is docs  # width 1: no exchange at all


def test_spread_of_repartitioned_frame_runs_no_job(spark, docs):
    """A frame the caller already repartitioned to full width is
    returned as is, without ``.rdd`` — under AQE that call would run
    the upstream shuffle at build time and the query would run it
    again."""
    sc = spark.sparkContext
    wide = docs.repartition(sc.defaultParallelism).select("doc_id", "text")
    before = wide._jdf.queryExecution().optimizedPlan().toString()
    group = "spread-repartitioned"
    sc.setJobGroup(group, group)
    try:
        out = spread(wide)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert out._jdf.queryExecution().optimizedPlan().toString() == before
