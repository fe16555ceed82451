"""Physical-plan assertions: the scale properties each operator is
designed around must survive refactors. These are the Spark analog of
the reference's route-forcing tests (SURVEY.md §5 technique 5) — but
asserted on the optimized plan instead of wall-clock.
"""

import pytest

from sparkswift import suite


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    qs = suite.queries()

    def plan_of(name: str) -> str:
        return qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()

    return plan_of


def test_q1_scan_prunes_columns(plans):
    # 7-column read out of 16 lineitem columns — pruning reached parquet
    p = plans("q1_pricing_summary")
    assert "l_returnflag" in p and "l_comment" not in p


def test_star_join_broadcasts_dims(plans):
    p = plans("j1_revenue_by_nation")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, "fact table must not shuffle for dims"


def test_semi_anti_joins_stay_semi(plans):
    assert "LeftSemi" in plans("j2_semi_join")
    assert "LeftAnti" in plans("j3_anti_join")


def test_topk_never_global_sorts(plans):
    p = plans("s1_topk_orders")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_native_apply_has_no_python(plans):
    p = plans("o1_apply_native")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # '*(n)' prefixes mark whole-stage-codegen spans in executedPlan
    assert "*(1)" in p


def test_udf_apply_uses_arrow_not_rowwise(plans):
    p = plans("o1_apply_udf")
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p, "row-at-a-time Python in the hot path"


def test_asof_join_single_shuffle(plans):
    p = plans("j4_asof_join")
    assert p.count("Exchange hashpartitioning") == 1


def test_asof_nearest_single_shuffle_two_sorts(plans):
    # both fill directions must evaluate over ONE exchange (the whole
    # point of the union formulation) — two sorts, zero extra shuffles
    p = plans("j7_asof_nearest")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Sort ") == 2
    assert "PushedFilters: [IsNotNull(event_type)" in p


def test_filter_pushdown_reaches_scan(plans):
    p = plans("j2_semi_join")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,48" in p


def test_weighted_rolling_single_exchange(plans):
    # lag-sum unroll: one hash exchange on user_id, one Window, no UDF
    p = plans("o5_rolling_weighted")
    assert p.count("Exchange") == 1
    assert "Window" in p and "pythonUDF" not in p.lower().replace("python udf", "pythonudf")


def test_pipeline_exprs_have_no_shuffle(plans):
    # sampling / split / repetition are per-row codegen — zero exchanges
    for q in ("p1_deterministic_sample", "p2_hash_split", "t5_repetition"):
        p = plans(q)
        assert "Exchange" not in p, f"{q} must not shuffle"
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
            f"{q} must not call Python"
        )


def test_decontaminate_corpus_side_never_shuffles(plans):
    p = plans("p3_decontaminate")
    assert "BroadcastHashJoin" in p


def test_d5_blocked_gemm_builds_without_driver_collect(spark, sf_dir, monkeypatch):
    """VERDICT item: d5 previously materialized the corpus on the
    driver (base.collect()) while BUILDING the plan. The block-pair
    GEMM must construct lazily — no collect of the corpus — and still
    produce the exact pairs."""
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("driver-side collect() during d5 plan build")

    monkeypatch.setattr(DataFrame, "collect", boom)
    df = suite.queries()["d5_embedding_neardup"](spark, sf_dir)
    monkeypatch.undo()
    assert df.count() > 0


def test_blocked_gemm_matches_exact_pairs(spark, sf_dir):
    from pyspark.sql import functions as F

    from sparkswift.operators import similarity as sim
    from sparkswift.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    a = sorted(map(tuple, sim.cosine_neardup_pairs(emb, 0.5).collect()))
    b = sorted(map(tuple, sim.cosine_neardup_blocked(emb, 0.5, n_blocks=5).collect()))
    assert a == b


def test_batched_kernels_reject_ragged_vectors():
    import pandas as pd
    import pytest

    from sparkswift.operators.similarity import _to_matrix

    with pytest.raises(ValueError, match="ragged"):
        _to_matrix(pd.Series([[1.0, 2.0], [1.0], None]))


def test_global_rolling_builds_without_driver_jobs(spark, sf_dir, monkeypatch):
    """VERDICT r4 #2: rolling_agg_global / rolling_agg_global_time used
    to run a full-scan max-bucket aggregate (collect) while BUILDING
    the plan — one wasted job per call at 100 TB. Plan construction
    must now be fully lazy (validate_buckets=False default)."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from sparkswift.operators.rolling import (
        rolling_agg_global,
        rolling_agg_global_time,
    )
    from sparkswift.sources import load_table

    ev = load_table(spark, sf_dir, "events")

    def boom(self):
        raise AssertionError("driver-side collect() during plan build")

    monkeypatch.setattr(DataFrame, "collect", boom)
    a = rolling_agg_global(
        ev.withColumn("__id", F.monotonically_increasing_id()),
        "__id", 10, "sum", "value", bucket_of=F.col("__id") / F.lit(100_000),
    )
    b = rolling_agg_global_time(ev, "ts", "1 hour", "sum", "value")
    monkeypatch.undo()
    assert a.count() > 0 and b.count() > 0


def test_mixture_sample_is_scanside_filter(spark, sf_dir):
    """p10's returned plan is a codegen CASE filter in the scan stage —
    no Exchange, no Python; the only job at build time is the bounded
    per-group count aggregate."""
    df = suite.queries()["p10_mixture_sample"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_fuzzy_join_is_equi_join(spark, sf_dir):
    """d11's candidate generation must be a hash/sort-merge equi-join
    on the shingle identity — never a nested-loop or cartesian plan."""
    df = suite.queries()["d11_fuzzy_join"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q3_filters_pushed_and_topk_never_global_sorts(plans):
    p = plans("q3_shipping_priority")
    # the segment/date predicates reach the parquet scans
    assert "PushedFilters" in p and "BUILDING" in p
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_q18_semi_join_and_no_nested_loop(plans):
    p = plans("q18_large_volume_customer")
    assert "LeftSemi" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_bm25_term_filter_before_shuffle_no_python(plans):
    p = plans("t12_bm25")
    # query-term pruning is a plain Filter in the scan stage, the
    # score is whole-stage-codegen arithmetic — no Python evaluator
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "TakeOrderedAndProject" in p


def test_interleave_no_global_sort_no_single_partition_window(plans):
    p = plans("p14_interleave")
    # ranking runs per (group, bucket) hash partition — a global
    # window would show an empty partitionBy spec / singlepartition
    assert "Window" in p
    assert "SinglePartition" not in p
    assert "Exchange rangepartitioning" not in p


def test_latest_per_key_single_shuffle(plans):
    p = plans("w3_latest_per_key")
    # one hash exchange on the key feeds the ranking window; no
    # second exchange, no global sort
    assert p.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in p


def test_zorder_key_is_pure_projection(plans):
    p = plans("p15_zorder_key")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q6_pushdown_and_no_shuffle(plans):
    """Q6 is the pushdown showcase: every predicate reaches the parquet
    reader, only 4 columns are read, and the only exchange is the
    single-row final-agg gather."""
    p = plans("q6_forecast_revenue")
    assert "PushedFilters" in p
    for pushed in ("l_shipdate", "l_discount", "l_quantity"):
        assert pushed in p.split("ReadSchema")[0].split("PushedFilters")[-1] or (
            pushed in p[p.index("PushedFilters"):]
        ), pushed
    read_schema = p[p.index("ReadSchema") :].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema  # column pruning held
    assert p.count("Exchange") <= 1  # single-row gather only


def test_json_extract_is_native_not_python(plans):
    """from_json runs JVM-side — no Python evals anywhere in the plan."""
    p = plans("agg12_json_extract")
    assert "from_json" in p
    assert "Python" not in p and "ArrowEval" not in p


def test_gopher_rules_fuse_into_scan(plans):
    """t13 is a pure projection — no exchange, no Python eval."""
    p = plans("t13_gopher_quality")
    assert "Exchange" not in p
    assert "Python" not in p and "ArrowEval" not in p


def test_line_dedup_two_shuffles_only(plans):
    """d13: one exchange for the line-key window, one for the doc
    re-aggregation (plus its partial agg) — and nothing else. A
    regression that sorts globally or re-shuffles the corpus would
    show up as extra exchanges."""
    p = plans("d13_line_dedup")
    assert p.count("Exchange hashpartitioning") <= 2
    assert "Exchange rangepartitioning" not in p  # no global sort
    assert "Exchange SinglePartition" not in p


def test_unigram_logprob_broadcasts_total(plans):
    """t15: the one-row total joins as a broadcast nested loop, never
    a shuffled cross join."""
    p = plans("t15_unigram_logprob")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_q19_pushes_disjunction_to_scan(plans):
    """The per-table projection of the three-way OR must reach the
    lineitem reader (PushedFilters carries Or(...And(quantity
    range))), and part must broadcast — no shuffle join for a
    dim-side disjunction."""
    p = plans("q19_disjunctive_revenue")
    scan = next(
        ln for ln in p.splitlines() if "PushedFilters" in ln and "l_quantity" in ln
    )
    pushed = scan[scan.index("PushedFilters") :]
    assert "Or(" in pushed and "l_quantity" in pushed
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_salted_join_shuffles_on_salt(spark, sf_dir):
    """When the right side is too big to broadcast (the only regime
    where salting matters — a broadcast join has no shuffle to skew),
    the join exchange must partition on (key, __salt): that composite
    key is the entire point of salting, and a refactor that drops
    __salt from the shuffle key silently re-concentrates the hot key
    into one task. At fixture scale supplier broadcasts, so the
    shuffle path is forced via autoBroadcastJoinThreshold=-1."""
    from sparkswift import suite

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = suite.queries()["j11_salted_join_skewed"](spark, sf_dir)
        p = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    ex = [
        ln
        for ln in p.splitlines()
        if "Exchange hashpartitioning" in ln and "__salt" in ln
    ]
    assert ex, f"no exchange partitioned on __salt:\n{p}"


def test_q14_broadcasts_part_and_single_gather(plans):
    p = plans("q14_promo_effect")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    read = p[p.index("PushedFilters") :].splitlines()[0]
    assert "l_shipdate" in read  # date window reached the scan


def test_w4_windows_share_one_exchange(plans):
    """All five analytics functions run over the same
    (o_custkey, o_orderkey) ordering — one shuffle, no extra sorts."""
    p = plans("w4_distribution_windows")
    assert p.count("Exchange hashpartitioning") <= 1


def test_agg15_histogram_buckets_at_scan_stage(plans):
    """Bucket assignment is a projection over the scan; the only
    exchange carries 22 bins at most."""
    p = plans("agg15_histogram")
    assert p.count("Exchange") <= 1
    assert "Python" not in p


def test_p19_pairs_single_exchange_for_both_windows(plans):
    """Both rank windows partition by the same key — Catalyst reuses
    one exchange; the self-join adds its own small shuffles but no
    range partitioning (no global sort)."""
    p = plans("p19_preference_pairs")
    assert "Exchange rangepartitioning" not in p


def test_mm_real_decodes_are_map_side_only(plans):
    # decode runs as one Arrow mapInPandas pass; payload bytes never
    # shuffle. The ONLY exchange allowed is spread's round-robin of
    # the 8-byte id column BELOW payload synthesis (the one-file scan
    # otherwise pins the whole decode chain to a single task) — never
    # a hash/range exchange, and never one above the synth where rows
    # carry payload bytes.
    for q in ("mm4_image_decode_real", "mm5_audio_decode_real",
              "mm6_png_decode_real"):
        p = plans(q)
        exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
        assert all("RoundRobinPartitioning" in ln for ln in exchanges), (q, p)
        assert len(exchanges) <= 1, (q, p)
        assert "Exchange hashpartitioning" not in p, (q, p)
        assert "Exchange rangepartitioning" not in p, (q, p)
        assert "MapInPandas" in p or "mapInPandas" in p.lower(), q


def test_q5_same_nation_is_scan_stage_comparison(plans):
    """Q5's c_nationkey = s_nationkey predicate must ride the key
    joins as a plain comparison of attached ints — never a join of
    its own (no nested loop), and the region/nation dims broadcast."""
    p = plans("q5_local_supplier_volume")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "Exchange rangepartitioning" not in p
    assert "PushedFilters" in p and "ASIA" in p


def test_q7_nation_filters_prefilter_the_dims(plans):
    """The two-nation disjunction reduces the entity dims before the
    fact joins — the fact chain shuffles once for the final tiny
    aggregate, with zero Python and no nested loop."""
    p = plans("q7_volume_shipping")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert p.count("Exchange hashpartitioning") <= 1


def test_q10_topk_heap_and_pruned_scans(plans):
    p = plans("q10_returned_items")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
    # lineitem pruned to the 4 used columns — l_tax never read
    assert "l_tax" not in p


def test_q13_preaggregates_orders_before_outer_join(plans):
    """The order-count table is built by aggregate-then-join: the
    plan's first exchange is the o_custkey aggregate, and no customer
    attribute rides through the raw order rows (o_totalprice unread)."""
    p = plans("q13_customer_distribution")
    assert "o_totalprice" not in p
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_q15_single_fact_scan_max_probe_broadcast(plans):
    """The revenue view is checkpointed once; both the max branch and
    the probe read the materialized view (zero parquet scans in the
    final plan), and the scalar max comes back as a broadcast
    equality join, not a nested loop or a single-partition window."""
    p = plans("q15_top_supplier")
    assert "lineitem.parquet" not in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "Window" not in p and "Exchange rangepartitioning" not in p


def test_q17_threshold_probe_is_broadcast_and_division_free(plans):
    """Both lineitem passes are brand-pruned through the broadcast
    part slice; the per-part stats come back broadcast; the threshold
    is decimal multiplication (no float division anywhere in the
    filter)."""
    p = plans("q17_small_quantity_revenue")
    assert p.count("BroadcastHashJoin") >= 2
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_q8_part_prunes_fact_before_entity_joins(plans):
    """The 7-table market-share join: part is type-pruned + broadcast
    (the fact slice shrinks before entity joins), no nested loop, one
    final tiny aggregate, zero Python."""
    p = plans("q8_market_share")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "EvalPython" not in p
    assert "PushedFilters" in p and "PROMO" in p


def test_q22_anti_join_and_one_row_threshold_broadcast(plans):
    """The NOT EXISTS is a LeftAnti against the priority-pruned
    1-column orders projection; the balance threshold is the ONLY
    nested-loop element — a broadcast one-row aggregate."""
    p = plans("q22_sales_opportunity")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p
    # the one-row threshold may appear as BroadcastNestedLoop — that
    # is the sanctioned one-row crossJoin, bounded by construction;
    # what must NOT happen is the anti join degenerating to a loop
    assert p.count("BroadcastNestedLoop") <= 1
    assert "1-URGENT" in p  # priority filter pushed to the orders scan


def test_agg17_drift_is_joinless_single_agg(plans):
    """Drift report: one (dim,bucket) hash aggregation, window totals
    over the bucket-sized frame — NO joins anywhere, zero Python."""
    p = plans("agg17_drift_report")
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "HashAggregate" in p and "Window" in p


def test_p27_epoch_upsample_is_scan_stage_only(plans):
    """Epoch upsampling: copies CASE + sequence-explode fused into the
    scan — no exchange, no join, no aggregate, zero Python."""
    p = plans("p27_epoch_upsample")
    assert "Exchange" not in p
    assert "Join" not in p and "HashAggregate" not in p
    assert "EvalPython" not in p
    assert "Generate explode" in p


def test_t20_bigram_pairs_built_scan_side(plans):
    """Bigram LM: pair construction is a zip of two array slices at
    the scan (no self-join or per-doc window); the only BNLJ is the
    sanctioned one-row vocab total."""
    p = plans("t20_bigram_logprob")
    assert "Window" not in p
    assert p.count("BroadcastNestedLoop") <= 1
    assert "EvalPython" not in p
    assert "slice(" in p and "zip_with" in p


def test_e9_greedy_runs_in_one_arrow_pass(plans):
    """MMR: the sequential greedy is ONE FlatMapGroupsInPandas over
    pool-sized groups; no row-at-a-time Python, no cartesian."""
    p = plans("e9_mmr_diversify")
    assert "FlatMapGroupsInPandas" in p
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_quantile_summary_no_exchange_before_compaction(spark):
    """The rank sketch compacts per Arrow batch where the data lies:
    mapInPandas directly over the scan, no shuffle of the rows."""
    from sparkswift.operators.profile import quantile_summary

    df = spark.range(1000).selectExpr("CAST(id AS DOUBLE) AS v")
    p = (
        quantile_summary(df, "v", k=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in p
    assert "MapInPandas" in p
