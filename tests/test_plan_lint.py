"""Fleet plan lint over the driver window: the scale anti-patterns no
query may plan (cartesian products, row-at-a-time Python, global-sort
exchanges, unallowlisted nested loops) — tools/planlint.py is the
full-registry sweep; this keeps the 50 driver-verified queries linted
on every test run. Heavy builds (persisted index/store seeds that run
real jobs at plan-build time) are excluded here and covered by the
tool sweep."""

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from planlint import lint_plan  # noqa: E402

from sparkswift import suite  # noqa: E402

# plan BUILD runs multi-second jobs (index/store seeding, streaming
# harness) — linted by the tools/planlint.py full sweep instead
HEAVY_BUILDS = {
    "d14_neardup_incremental",
    "st14_stream_crawl_ingest",
    "st13_stream_ivf_ingest",
    "e4_cosine_topk_ivf_persisted",
    "e7_cosine_topk_ivfpq_persisted",
    "st4_stream_join",
}


def test_window_queries_pass_plan_lint(spark, sf_dir):
    qs = suite.queries()
    window = list(qs)[:50]
    violations = {}
    for name in window:
        if name in HEAVY_BUILDS:
            continue
        plan = (
            qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )
        flags = lint_plan(name, plan)
        if flags:
            violations[name] = flags
    assert not violations, violations
