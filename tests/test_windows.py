"""O4/O5/O6 semantics vs pandas as oracle (the reference's own test
technique — differential testing, swifter_tests.py:95-105)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkswift.operators.groupby import groupby_apply
from sparkswift.operators.resample import resample_agg
from sparkswift.operators.rolling import rolling_agg, rolling_apply_udf
from sparkswift.sources import load_table


@pytest.fixture(scope="module")
def ev(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_rolling_rows_matches_pandas(ev):
    out = rolling_agg(
        ev, order_by=["ts", "event_id"], window=3, agg="sum", on="value",
        output_col="rs", partition_by=["user_id"],
    ).toPandas().sort_values("event_id").reset_index(drop=True)
    pdf = ev.toPandas().sort_values(["user_id", "ts", "event_id"])
    expected = (
        pdf.groupby("user_id")["value"].rolling(3).sum().reset_index(level=0, drop=True)
    )
    pdf["rs"] = expected
    pdf = pdf.sort_values("event_id").reset_index(drop=True)
    pd.testing.assert_series_equal(out["rs"], pdf["rs"], check_names=False)


def test_rolling_time_matches_pandas(ev):
    out = rolling_agg(
        ev, order_by="ts", window="30 minutes", agg="mean", on="value",
        output_col="rm", partition_by=["user_id"], min_periods=1,
    ).toPandas().sort_values("event_id").reset_index(drop=True)
    pdf = ev.toPandas().sort_values(["user_id", "ts"])

    def per_user(g):
        return g.rolling("30min", on="ts")["value"].mean()

    pdf["rm"] = pdf.groupby("user_id", group_keys=False).apply(per_user)
    pdf = pdf.sort_values("event_id").reset_index(drop=True)
    pd.testing.assert_series_equal(out["rm"], pdf["rm"], check_names=False, rtol=1e-9)


def test_rolling_udf_matches_pandas(ev):
    out = rolling_apply_udf(
        ev, order_by=["ts", "event_id"], window=4,
        func=lambda s: s.max() - s.min(), on="value",
        output_col="rr", partition_by=["user_id"], min_periods=2,
    ).toPandas().sort_values("event_id").reset_index(drop=True)
    pdf = ev.toPandas().sort_values(["user_id", "ts", "event_id"])
    pdf["rr"] = (
        pdf.groupby("user_id")["value"]
        .rolling(4, min_periods=2)
        .apply(lambda s: s.max() - s.min(), raw=False)
        .reset_index(level=0, drop=True)
    )
    pdf = pdf.sort_values("event_id").reset_index(drop=True)
    pd.testing.assert_series_equal(out["rr"], pdf["rr"], check_names=False)


def test_resample_matches_pandas(ev):
    out = (
        resample_agg(
            ev, ts_col="ts", rule="1 hour",
            aggs={"s": F.sum("value"), "n": F.count(F.lit(1)).cast("bigint")},
        )
        .toPandas()
        .sort_values("bucket_ts")
        .reset_index(drop=True)
    )
    pdf = ev.toPandas().set_index("ts").resample("1h")["value"].agg(["sum", "count"])
    pdf = pdf[pdf["count"] > 0]  # Spark emits no row for empty buckets
    assert len(out) == len(pdf)
    pd.testing.assert_series_equal(
        out["s"], pdf["sum"].reset_index(drop=True), check_names=False, rtol=1e-9
    )


def test_groupby_apply_frame_result(ev):
    """Group→frame UDF: returns top-2 rows per group (frame-shaped)."""
    def top2(g: pd.DataFrame) -> pd.DataFrame:
        return g.nlargest(2, "value")[["event_id", "value"]]

    out = groupby_apply(
        ev, "event_type", top2,
        schema="event_type string, event_id bigint, value double",
    ).toPandas()
    n_types = ev.select("event_type").distinct().count()
    assert len(out) == 2 * n_types
    pdf = ev.toPandas()
    for et, g in pdf.groupby("event_type"):
        got = set(out[out.event_type == et]["event_id"])
        want = set(g.nlargest(2, "value")["event_id"])
        assert got == want


def test_groupby_level_matches_pandas(spark):
    """pandas groupby(level=...) parity (reference swifter/swifter.py:579,592,
    test swifter_tests.py:802-813): the distributed frame models an index
    as named columns, so a named level IS its key column."""
    pdf = pd.DataFrame(
        {
            "sector": ["a", "a", "b", "b", "b"],
            "ticker": ["x", "y", "x", "y", "z"],
            "px": [1.0, 2.0, 3.0, 4.0, 5.0],
        }
    )
    df = spark.createDataFrame(pdf)

    def total(g):
        return pd.DataFrame({"s": [g["px"].sum()]})

    got = (
        groupby_apply(df, level="sector", func=total, schema="sector string, s double")
        .toPandas()
        .sort_values("sector")
        .reset_index(drop=True)
    )
    want = (
        pdf.set_index(["sector", "ticker"])
        .groupby(level="sector")
        .apply(total)
        .reset_index(level=0)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)

    # multi-level grouping; as_index/group_keys accepted (shape no-ops)
    got2 = (
        groupby_apply(
            df,
            level=["sector", "ticker"],
            func=total,
            schema="sector string, ticker string, s double",
            as_index=False,
            group_keys=False,
        )
        .toPandas()
        .sort_values(["sector", "ticker"])
        .reset_index(drop=True)
    )
    assert len(got2) == 5 and got2["s"].tolist() == [1.0, 2.0, 3.0, 4.0, 5.0]

    with pytest.raises(TypeError):
        groupby_apply(df, level=0, func=total, schema="s double")
    with pytest.raises(ValueError):
        groupby_apply(df, level="nope", func=total, schema="s double")


def test_groupby_apply_default_skips_output_sort(spark, ev):
    """Default sort_output=False: no Sort node after the grouped UDF —
    at scale the cosmetic output order costs a full extra sort."""
    def total(g):
        return pd.DataFrame({"s": [g["value"].sum()]})

    out = groupby_apply(ev, "event_type", total, schema="event_type string, s double")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "Sort " not in plan.split("FlatMapGroupsInPandas")[0], plan
    # opt-in still sorts
    sorted_plan = (
        groupby_apply(
            ev, "event_type", total,
            schema="event_type string, s double", sort_output=True,
        )._jdf.queryExecution().executedPlan().toString()
    )
    assert "Sort " in sorted_plan.split("FlatMapGroupsInPandas")[0]


def test_groupby_agg_udf_no_deprecation(spark, ev):
    """Type-hint grouped-agg form (not F.PandasUDFType.GROUPED_AGG):
    values match and no FutureWarning/DeprecationWarning fires."""
    import warnings

    from sparkswift.operators.groupby import groupby_agg_udf

    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        warnings.simplefilter("error", DeprecationWarning)
        out = groupby_agg_udf(
            ev,
            "event_type",
            {"vmax": ("value", lambda s: float(s.max()))},
        ).toPandas()
    want = ev.toPandas().groupby("event_type")["value"].max()
    got = out.set_index("event_type")["vmax"]
    assert (got.sort_index() == want.sort_index()).all()


@pytest.mark.parametrize("closed", ["right", "left", "both", "neither"])
def test_rolling_time_closed_semantics(ev, closed):
    out = (
        rolling_agg(
            ev, order_by="ts", window="30 minutes", agg="sum", on="value",
            output_col="rs", partition_by=["user_id"], min_periods=1,
            closed=closed,
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pdf = ev.toPandas().sort_values(["user_id", "ts"])

    def per_user(g):
        s = g.set_index(pd.DatetimeIndex(g["ts"]))["value"]
        return s.rolling("30min", min_periods=1, closed=closed).sum().to_numpy()

    vals = []
    for _, g in pdf.groupby("user_id"):
        vals.extend(per_user(g))
    pdf["rs"] = vals
    pdf = pdf.sort_values("event_id").reset_index(drop=True)
    got = out["rs"].fillna(-1).to_numpy()
    want = pdf["rs"].fillna(-1).to_numpy()
    assert (abs(got - want) < 1e-9).all()


def test_groupby_dropna_matches_pandas(spark):
    pdf = pd.DataFrame(
        {"g": ["a", None, "b", "a", None], "x": [1.0, 2.0, 3.0, 4.0, 5.0]}
    )
    df = spark.createDataFrame(pdf)

    def total(g):
        return pd.DataFrame({"s": [g["x"].sum()]})

    got = groupby_apply(df, "g", total, schema="g string, s double").toPandas()
    want = (
        pdf.groupby("g", dropna=True)
        .apply(total, include_groups=False)
        .reset_index(level=0)
        .reset_index(drop=True)
    )
    got = got.sort_values("g").reset_index(drop=True)
    want = want.sort_values("g").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
    # dropna=False keeps the null-key group
    kept = groupby_apply(
        df, "g", total, schema="g string, s double", dropna=False
    ).toPandas()
    assert len(kept) == 3 and kept["s"].sum() == 15.0


def test_window_weights_tapers():
    """Weight vectors match the scipy symmetric-window formulas pandas
    would use (scipy absent in this container, generated via numpy)."""
    import numpy as np

    from sparkswift.operators.rolling import window_weights

    np.testing.assert_allclose(
        window_weights("triang", 5), [1 / 3, 2 / 3, 1.0, 2 / 3, 1 / 3]
    )
    np.testing.assert_allclose(window_weights("triang", 4), [0.25, 0.75, 0.75, 0.25])
    assert window_weights("boxcar", 3).tolist() == [1.0, 1.0, 1.0]
    g = window_weights("gaussian", 5, std=1.0)
    assert g[2] == 1.0 and np.all(np.diff(g[:3]) > 0)
    for wt in ("hamming", "hann", "blackman", "bartlett"):
        w = window_weights(wt, 7)
        np.testing.assert_allclose(w, w[::-1])  # symmetric
    with pytest.raises(ValueError):
        window_weights("nope", 5)


def test_rolling_weighted_matches_manual(ev):
    """Weighted mean/sum vs a hand-rolled pandas computation (pandas'
    own win_type path needs scipy, so the oracle is the formula)."""
    import numpy as np

    from sparkswift.operators.rolling import rolling_weighted, window_weights

    w = window_weights("triang", 3)
    out = (
        rolling_weighted(
            ev, order_by=["ts", "event_id"], window=3, on="value",
            win_type="triang", agg="sum", partition_by=["user_id"],
            output_col="ws",
        )
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    pdf = ev.toPandas().sort_values(["user_id", "ts", "event_id"])

    def wsum(g):
        v = g.to_numpy()
        res = np.full(len(v), np.nan)
        for i in range(2, len(v)):
            res[i] = v[i - 2] * w[0] + v[i - 1] * w[1] + v[i] * w[2]
        return pd.Series(res, index=g.index)

    pdf["ws"] = pdf.groupby("user_id")["value"].transform(wsum)
    pdf = pdf.sort_values("event_id").reset_index(drop=True)
    pd.testing.assert_series_equal(out["ws"], pdf["ws"], check_names=False, rtol=1e-12)


def test_rolling_weighted_center_and_explicit_weights(ev):
    """center=True shifts the frame symmetrically; explicit weights
    override win_type."""
    from sparkswift.operators.rolling import rolling_weighted

    out = (
        rolling_weighted(
            ev, order_by=["ts", "event_id"], window=3, on="value",
            weights=[1.0, 1.0, 1.0], agg="mean", center=True,
            partition_by=["user_id"], output_col="cm",
        )
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    pdf = ev.toPandas().sort_values(["user_id", "ts", "event_id"])
    pdf["cm"] = (
        pdf.groupby("user_id")["value"]
        .rolling(3, center=True).mean()
        .reset_index(level=0, drop=True)
    )
    pdf = pdf.sort_values("event_id").reset_index(drop=True)
    pd.testing.assert_series_equal(out["cm"], pdf["cm"], check_names=False, rtol=1e-12)


def test_rolling_count_closed_matches_pandas(ev):
    """closed= for COUNT windows (ADVICE/VERDICT parity item): every
    boundary mode must reproduce pandas' fixed-window semantics."""
    pdf_all = ev.toPandas().sort_values(["user_id", "ts", "event_id"])
    for closed in ("right", "left", "both", "neither"):
        out = (
            rolling_agg(
                ev, order_by=["ts", "event_id"], window=3, agg="sum",
                on="value", output_col="rs", partition_by=["user_id"],
                closed=closed, min_periods=1,
            )
            .toPandas().sort_values("event_id").reset_index(drop=True)
        )
        pdf = pdf_all.copy()
        pdf["rs"] = (
            pdf.groupby("user_id")["value"]
            .rolling(3, closed=closed, min_periods=1)
            .sum()
            .reset_index(level=0, drop=True)
        )
        pdf = pdf.sort_values("event_id").reset_index(drop=True)
        pd.testing.assert_series_equal(
            out["rs"], pdf["rs"], check_names=False, rtol=1e-9
        ), closed


def test_rolling_udf_unkeyed_preserves_nulls(spark):
    """Un-keyed rolling UDF must see NaN-bearing windows like pandas
    does (collect_list silently drops nulls — the struct wrapper keeps
    them), and min_periods counts non-null observations."""
    import numpy as np

    vals = [1.0, None, 3.0, 4.0, None, 6.0, 7.0]
    pdf = pd.DataFrame({"i": range(len(vals)), "v": vals})
    df = spark.createDataFrame(pdf)
    out = (
        rolling_apply_udf(
            df, order_by="i", window=3, func=lambda s: s.sum(),
            on="v", output_col="rs", min_periods=2,
        )
        .toPandas().sort_values("i").reset_index(drop=True)
    )
    expected = (
        pdf["v"].rolling(3, min_periods=2).apply(lambda s: s.sum(), raw=False)
    )
    pd.testing.assert_series_equal(
        out["rs"].astype(float), expected, check_names=False
    )


def test_global_rolling_udf_build_runs_no_job(spark):
    """The raw-window check samples the frame only for the
    partition_by route, the one route that reads its answer, so
    building a global rolling UDF launches no job."""
    df = spark.range(0, 200).select(
        F.col("id").alias("i"), (F.col("id") % 13).cast("double").alias("v")
    )
    sc = spark.sparkContext
    group = "global-rolling-udf-build"
    sc.setJobGroup(group, group)
    try:
        out = rolling_apply_udf(
            df, order_by="i", window=5, func=lambda s: s.max() - s.min(),
            on="v", output_col="rr",
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    got = out.toPandas().sort_values("i")["rr"].reset_index(drop=True)
    pdf = df.toPandas().sort_values("i")
    want = pdf["v"].rolling(5).apply(lambda s: s.max() - s.min(), raw=False)
    pd.testing.assert_series_equal(
        got.astype(float), want.reset_index(drop=True), check_names=False
    )


def test_resample_apply_udf_series_result_is_one_row_per_bucket(ev):
    """A func returning a Series gives one row per bucket, as
    groupby_apply gives one row per group for the same func."""
    from sparkswift.operators.resample import resample_apply_udf

    def stats(g):
        return pd.Series({"s": float(g["value"].sum()), "n": len(g)})

    out = (
        resample_apply_udf(
            ev.select("ts", "value"), ts_col="ts", rule="1 hour", func=stats,
            schema="bucket_ts timestamp, s double, n bigint",
        )
        .toPandas().sort_values("bucket_ts").reset_index(drop=True)
    )
    pdf = ev.select("ts", "value").toPandas()
    r = pdf.set_index("ts")["value"].resample("1h")
    exp = pd.DataFrame({"s": r.sum(), "n": r.count()})
    exp = exp[exp["n"] > 0].rename_axis("bucket_ts").reset_index()
    pd.testing.assert_frame_equal(
        out, exp.astype({"n": "int64"}), check_dtype=False, rtol=1e-9
    )
    per_group = groupby_apply(
        ev.select(F.date_trunc("hour", "ts").alias("bucket_ts"), "value"),
        "bucket_ts", lambda g: stats(g),
        schema="bucket_ts timestamp, s double, n bigint",
    )
    assert per_group.count() == len(out)


def test_resample_closed_right_offset_matches_pandas(ev):
    """closed='right' + offset + label='right' (reference resample
    kwargs swifter.py:174-220) against pandas.resample itself."""
    out = (
        resample_agg(
            ev.select("ts", "value"), ts_col="ts", rule="1 hour",
            aggs={"n": F.count(F.lit(1)).cast("bigint")},
            label="right", closed="right", offset="15 minutes",
        )
        .toPandas().sort_values("bucket_ts").reset_index(drop=True)
    )
    pdf = ev.select("ts", "value").toPandas()
    exp = (
        pdf.set_index("ts")["value"]
        .resample("1h", closed="right", label="right", offset="15min")
        .count()
    )
    exp = exp[exp > 0].rename("n").rename_axis("bucket_ts").reset_index()
    pd.testing.assert_frame_equal(
        out, exp.astype({"n": "int64"}), check_dtype=False
    )


def test_resample_origin_and_base_match_pandas(ev):
    """origin='start_day' and the legacy base= knob shift bucket phase
    exactly as pandas does."""
    pdf = ev.select("ts", "value").toPandas()
    for kwargs, pd_kwargs in [
        ({"origin": "start_day", "offset": "7 minutes"},
         {"origin": "start_day", "offset": "7min"}),
        ({"origin": "2021-01-01 00:23:00"}, {"origin": "2021-01-01 00:23:00"}),
    ]:
        out = (
            resample_agg(
                ev.select("ts", "value"), ts_col="ts", rule="1 hour",
                aggs={"n": F.count(F.lit(1)).cast("bigint")}, **kwargs,
            )
            .toPandas().sort_values("bucket_ts").reset_index(drop=True)
        )
        exp = pdf.set_index("ts")["value"].resample("1h", **pd_kwargs).count()
        exp = exp[exp > 0].rename("n").rename_axis("bucket_ts").reset_index()
        pd.testing.assert_frame_equal(
            out, exp.astype({"n": "int64"}), check_dtype=False
        ), kwargs


def test_rolling_resample_groupby_on_empty_input(spark, ev):
    """Empty in → empty out with the correct schema, through every
    window-family operator (reference swifter_tests.py:877-890,
    499-506: empty-frame applies must not blow up)."""
    from sparkswift.operators.resample import resample_apply_udf

    empty = ev.filter(F.lit(False))

    r1 = rolling_agg(
        empty, order_by="ts", window=3, agg="sum", on="value",
        output_col="rs", partition_by=["user_id"],
    )
    assert r1.count() == 0 and "rs" in r1.columns

    r2 = rolling_apply_udf(
        empty, order_by="ts", window=3, on="value",
        func=lambda s: s.mean(), output_col="rm", partition_by=["user_id"],
    )
    assert r2.count() == 0 and "rm" in r2.columns

    r3 = resample_agg(
        empty, ts_col="ts", rule="1 hour", aggs={"n": F.count(F.lit(1))}
    )
    assert r3.count() == 0 and "n" in r3.columns

    r4 = resample_apply_udf(
        empty, ts_col="ts", rule="1 hour",
        func=lambda g: pd.DataFrame({"med": [g["value"].median()]}),
        schema="bucket_ts timestamp, med double",
    )
    assert r4.count() == 0 and "med" in r4.columns

    r5 = groupby_apply(
        empty, "user_id",
        lambda g: pd.DataFrame({"s": [g["value"].sum()]}),
        schema="user_id bigint, s double",
    )
    assert r5.count() == 0 and r5.columns == ["user_id", "s"]


def test_rolling_global_matches_pandas_and_distributes(spark):
    """Distributed global rolling: values match pandas' global
    rolling(k).sum exactly, and the plan has NO single-task global
    sort — the window runs per monotone bucket."""
    import numpy as np

    from sparkswift.operators.rolling import rolling_agg_global

    pdf = pd.DataFrame({"id": range(10_000)})
    pdf["v"] = (np.arange(10_000) * 7919) % 27
    df = spark.createDataFrame(pdf).repartition(8)
    out = rolling_agg_global(
        df, "id", 10, "sum", "v",
        bucket_of=F.col("id") / F.lit(997), output_col="rs",
    )
    got = out.toPandas().sort_values("id").reset_index(drop=True)
    want = pdf["v"].rolling(10).sum()
    assert ((got["rs"].fillna(-1) - want.fillna(-1)).abs() < 1e-9).all()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # global-order correctness WITHOUT a global sort: every exchange is
    # hash (by bucket), never a rangepartitioning/SinglePartition sort
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    # min_periods: exactly the first k-1 global rows are null
    assert got["rs"].isna().sum() == 9


def test_rolling_global_time_matches_pandas(ev):
    """Distributed global TIME rolling: equals pandas' global
    rolling('30min') on the full frame, no global sort in the plan."""
    from sparkswift.operators.rolling import rolling_agg_global_time

    out = rolling_agg_global_time(
        ev, "ts", "30 minutes", "sum", "value",
        bucket_width="2 hours", output_col="rs",
    )
    got = out.toPandas().sort_values("event_id").reset_index(drop=True)
    pdf = ev.toPandas().sort_values("ts")
    pdf["rs"] = pdf.rolling("30min", on="ts")["value"].sum()
    pdf = pdf.sort_values("event_id").reset_index(drop=True)
    assert ((got["rs"] - pdf["rs"]).abs() < 1e-9).all()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    # bucket narrower than the window must be rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rolling_agg_global_time(
            ev, "ts", "30 minutes", "sum", "value", bucket_width="10 minutes"
        )


def test_rolling_global_validate_buckets(spark):
    """Opt-in precondition check: thin or missing mid-range buckets
    raise instead of silently losing window rows."""
    import numpy as np

    from sparkswift.operators.rolling import rolling_agg_global

    pdf = pd.DataFrame({"id": list(range(100)) + [5000]})  # gap → empty buckets
    pdf["v"] = np.arange(len(pdf), dtype=float)
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError):
        rolling_agg_global(
            df, "id", 10, "sum", "v",
            bucket_of=F.col("id") / F.lit(50), validate_buckets=True,
        )
    # healthy buckets validate clean and still match pandas
    ok = rolling_agg_global(
        spark.createDataFrame(pdf.iloc[:100]), "id", 10, "sum", "v",
        bucket_of=F.col("id") / F.lit(50), validate_buckets=True,
    ).toPandas().sort_values("id")
    want = pdf.iloc[:100]["v"].rolling(10).sum()
    assert ((ok["v_roll_sum"].fillna(-1).to_numpy() - want.fillna(-1).to_numpy()) == 0).all()


def test_resample_fill_matches_pandas(ev):
    """Gap-filled resample == pandas resample().sum().ffill() per
    entity; zero/none methods behave as named."""
    from sparkswift.operators.resample import resample_fill

    got = (
        resample_fill(
            ev, ts_col="ts", rule="1 hour",
            values={"v": F.sum("value"), "n": F.count(F.lit(1)).cast("bigint")},
            method="ffill", extra_keys=["user_id"],
        )
        .toPandas().sort_values(["user_id", "bucket_ts"]).reset_index(drop=True)
    )
    pdf = ev.toPandas()
    pieces = []
    for uid, g in pdf.groupby("user_id"):
        r = g.set_index("ts").resample("1h")["value"].agg(["sum", "count"])
        r = r.loc[r["count"].ne(0).idxmax():]  # spine starts at first obs
        r.loc[r["count"] == 0, "sum"] = None
        r["sum"] = r["sum"].ffill()
        r["count"] = r["count"].replace(0, None).ffill()
        r["user_id"] = uid
        pieces.append(r.reset_index())
    want = (
        pd.concat(pieces).sort_values(["user_id", "ts"]).reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (abs(got["v"] - want["sum"]) < 1e-6).all()
    assert (got["n"] == want["count"].astype(int)).all()

    zero = resample_fill(
        ev, ts_col="ts", rule="1 hour",
        values={"n": F.count(F.lit(1)).cast("bigint")},
        method="zero", extra_keys=["user_id"],
    ).toPandas()
    assert (zero["n"] == 0).any() and zero["n"].notna().all()
    none = resample_fill(
        ev, ts_col="ts", rule="1 hour",
        values={"n": F.count(F.lit(1)).cast("bigint")},
        method="none", extra_keys=["user_id"],
    ).toPandas()
    assert none["n"].isna().any()
    with pytest.raises(ValueError):
        resample_fill(ev, "ts", "1 hour", {"n": F.count(F.lit(1))}, method="bogus")


def test_resample_interpolate_matches_pandas(ev):
    """method='interpolate' == pandas resample().mean()
    .interpolate('linear') per entity (head/tail cases can't occur:
    the spine is bounded by observed buckets)."""
    from sparkswift.operators.resample import resample_fill

    got = (
        resample_fill(
            ev, ts_col="ts", rule="15 minutes",
            values={"v": F.avg("value")},
            method="interpolate", extra_keys=["user_id"],
        )
        .toPandas().sort_values(["user_id", "bucket_ts"]).reset_index(drop=True)
    )
    pdf = ev.toPandas()
    pieces = []
    for uid, g in pdf.groupby("user_id"):
        r = g.set_index("ts").resample("15min")["value"].mean()
        r = r.loc[r.first_valid_index() : r.last_valid_index()]
        r = r.interpolate("linear")
        pieces.append(
            pd.DataFrame({"user_id": uid, "ts": r.index, "v": r.values})
        )
    want = (
        pd.concat(pieces).sort_values(["user_id", "ts"]).reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (abs(got["v"] - want["v"]) < 1e-9).all()


def test_accessor_groupby_rolling_sugar(ev):
    """swift(df).groupby(k).rolling(w, on).apply(...) == the explicit
    rolling with partition_by=[k] (pandas groupby().rolling idiom)."""
    from sparkswift import swift

    via_sugar = (
        swift(ev).groupby("user_id").rolling(5, on="value")
        .apply("mean", order_by="ts")
        .select("event_id", "value_roll_mean")
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    explicit = (
        swift(ev).rolling(5, on="value", partition_by=["user_id"])
        .apply("mean", order_by="ts")
        .select("event_id", "value_roll_mean")
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(via_sugar, explicit)


def test_scd2_intervals_pure_python_reference(spark, sf_dir):
    """SCD2 laws vs a pure-python run-length reference: runs collapse,
    intervals tile each key's history ([from, to) chains with exactly
    one open interval per key), same-timestamp logs break ties by
    event_id."""
    from sparkswift.operators.events import scd2_intervals
    from sparkswift.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    got = sorted(
        (r["user_id"], r["event_type"], r["from_us"], r["to_us"])
        for r in scd2_intervals(ev).collect()
    )
    rows = ev.select(
        "user_id", F.unix_micros("ts").alias("t"), "event_id", "event_type"
    ).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["t"], r["event_id"], r["event_type"])
        )
    want = []
    for u, evs in by_user.items():
        evs.sort()
        runs = []
        for t, _eid, a in evs:
            if not runs or runs[-1][0] != a:
                runs.append([a, t])
        for i, (a, t) in enumerate(runs):
            to = runs[i + 1][1] if i + 1 < len(runs) else None
            want.append((u, a, t, to))
    assert got == sorted(want) and len(got) > 0
    # exactly one open (current) interval per key
    per_key_open: dict = {}
    for u, _a, _f, to in got:
        if to is None:
            per_key_open[u] = per_key_open.get(u, 0) + 1
    assert set(per_key_open.values()) == {1}


def test_scd2_null_attr_runs(spark):
    """Review r10: NULL attribute runs collapse like any other value
    (IS DISTINCT FROM semantics) — A→NULL is a change, NULL→NULL is
    not, and a leading NULL still opens the first interval."""
    from sparkswift.operators.events import scd2_intervals

    df = spark.createDataFrame(
        [
            (1, 100, 1, None),
            (1, 200, 2, None),     # NULL run: no new interval
            (1, 300, 3, "a"),      # NULL -> a: change
            (1, 400, 4, None),     # a -> NULL: change
        ],
        "user_id long, us long, event_id long, event_type string",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "event_id",
        "event_type",
    )
    out = sorted(
        [
            (r["event_type"], r["from_us"], r["to_us"])
            for r in scd2_intervals(df).collect()
        ],
        key=lambda t: t[1],
    )
    assert out == [(None, 100, 300), ("a", 300, 400), (None, 400, None)]


def test_time_weighted_avg_matches_fraction_reference(spark):
    """w6's quantized-integer TWA equals an INDEPENDENT exact-rational
    reference (Fraction arithmetic over the true weighted mean,
    floored to milli-units) on planted data whose values are exact
    milli multiples — certifying the derivation, not just Spark↔SQL
    sync. Single-event users drop out."""
    from fractions import Fraction

    import pyspark.sql.functions as F  # noqa: F401

    from sparkswift.suite_relational import w6_time_weighted_avg

    rows = []
    eid = 0
    data = {
        1: [(0, 1.25), (10_000_000, 3.5), (25_000_000, 0.75)],
        2: [(0, 100.0), (1, 0.001)],
        3: [(5, 42.125)],  # single event -> no interval
    }
    for uid, evs in data.items():
        for t_us, v in evs:
            rows.append((eid, uid, t_us, v))
            eid += 1
    df = spark.createDataFrame(
        [
            (e, u, __import__("datetime").datetime(2024, 1, 1)
             + __import__("datetime").timedelta(microseconds=t), v, "x", "{}")
            for e, u, t, v in rows
        ],
        "event_id long, user_id long, ts timestamp, value double, "
        "event_type string, props string",
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")

    import tempfile
    path = tempfile.mkdtemp(prefix="w6_") 
    df.write.mode("overwrite").parquet(path + "/events.parquet")
    got = {
        r.user_id: (r.n_intervals, r.total_dur_us, r.twa_milli)
        for r in w6_time_weighted_avg(spark, path).collect()
    }
    assert 3 not in got
    for uid, evs in data.items():
        if len(evs) < 2:
            continue
        num = Fraction(0)
        den = 0
        for (t0, v0), (t1, _) in zip(evs, evs[1:]):
            num += Fraction(v0).limit_denominator(10**9) * (t1 - t0)
            den += t1 - t0
        want_milli = (num * 1000 / den).__floor__()
        n, dur, twa = got[uid]
        assert n == len(evs) - 1
        assert dur == den
        assert twa == want_milli, (uid, twa, want_milli)


def test_w6_integer_division_truncates_on_both_engines(spark):
    """w6's exactness law (ADVICE r11): integer division must agree
    cross-engine even for NEGATIVE numerators (reachable if a future
    fixture carries negative values). Pin: DuckDB's integer `//`
    TRUNCATES toward zero exactly like Spark's `div` — it is NOT the
    float floor-division `//`. If a DuckDB upgrade ever flips this,
    this test fails loudly before the driver hash does."""
    import duckdb

    cases = [(-7, 2), (7, 2), (-7, -2), (7, -2), (-1, 3), (1, 3),
             (-(15 * 10**17), 7), (15 * 10**17, 7)]
    con = duckdb.connect()
    for a, b in cases:
        (duck,) = con.execute(
            f"SELECT CAST({a} AS BIGINT) // CAST({b} AS BIGINT)"
        ).fetchone()
        (spark_v,) = spark.sql(
            f"SELECT CAST({a} AS BIGINT) div CAST({b} AS BIGINT)"
        ).first()
        # truncation toward zero: int(a/b) in exact arithmetic
        want = abs(a) // abs(b) * (1 if (a >= 0) == (b >= 0) else -1)
        assert duck == spark_v == want, (a, b, duck, spark_v, want)


def test_rolling_distinct_matches_pure_python(spark, sf_dir):
    """agg22's exact rolling-7-day distinct count equals a brute
    pure-python set-union reference over the fixture."""
    from pyspark.sql import functions as F

    from sparkswift.sources import load_table
    from sparkswift.suite_relational import agg22_rolling_distinct

    day_us = 86_400_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr(f"unix_micros(ts) div {day_us}").alias("day")
    )
    pairs = {(r.user_id, r.day) for r in ev.collect()}
    by_day: dict[int, set[int]] = {}
    for u, d in pairs:
        by_day.setdefault(d, set()).add(u)
    lo, hi = min(by_day), max(by_day)
    want = {}
    for d in range(lo, hi + 1):
        users = set()
        for back in range(7):
            users |= by_day.get(d - back, set())
        if users:
            want[d * day_us] = len(users)
    got = {
        r.day_us: r.wau for r in agg22_rolling_distinct(spark, sf_dir).collect()
    }
    assert got == want


def test_ohlc_bars_matches_pure_python(spark):
    """ohlc_bars == brute pure-python per-bucket open/high/low/close,
    including same-timestamp ties broken by event_id and a
    single-event bucket (open == close == high == low)."""
    import datetime as dt

    from sparkswift.operators.events import ohlc_bars

    base = dt.datetime(2024, 3, 1)
    rows = [
        # (event_id, type, minute offset, value)
        (1, "a", 5, 10.0), (2, "a", 1, 7.5), (3, "a", 59, 3.25),
        (4, "a", 1, 9.0),   # same ts as id 2? no — same minute, ids tie-break
        (5, "a", 61, 4.0),  # next hour, single event
        (6, "b", 2, 100.0), (7, "b", 2, 50.0),  # same ts, tie by id
    ]
    # make ids 2 and 4 share the exact timestamp
    data = [
        (eid, t, base + dt.timedelta(minutes=(1 if eid == 4 else m)), v)
        for eid, t, m, v in rows
    ]
    df = spark.createDataFrame(
        data, "event_id long, event_type string, ts timestamp, value double"
    )
    got = {
        (r.event_type, r.bucket_ts.hour): (
            r.open, r.high, r.low, r.close, r.n_events
        )
        for r in ohlc_bars(df).collect()
    }
    import collections

    buckets = collections.defaultdict(list)
    for eid, t, ts, v in data:
        buckets[(t, ts.hour)].append((ts, eid, v))
    want = {}
    for k, evs in buckets.items():
        evs.sort()
        vals = [v for _, _, v in evs]
        want[k] = (evs[0][2], max(vals), min(vals), evs[-1][2], len(evs))
    assert got == want


def test_exact_median_rule(spark, sf_dir):
    """agg23's lower-median rule == pure-python selection on the
    fixture (odd and even group sizes, ties included)."""
    from sparkswift.sources import load_table
    from sparkswift.suite_relational import agg23_exact_median

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select("event_type", "value", "event_id").collect()
    groups = {}
    for r in rows:
        groups.setdefault(r.event_type, []).append((r.value, r.event_id))
    got = {
        r.event_type: (r.n_events, r.median_lower)
        for r in agg23_exact_median(spark, sf_dir).collect()
    }
    for g, vs in groups.items():
        vs.sort()
        n = len(vs)
        assert got[g] == (n, vs[(n + 1) // 2 - 1][0]), g


def test_ohlc_partials_merge_bit_exact_under_any_chop(spark, sf_dir):
    """st29's law directly: ohlc_merge(ohlc_partials per chop) ==
    ohlc_bars BIT-exactly for several random chops of the fixture
    (the arg-selection structs make the merge associative)."""
    from sparkswift.operators.events import ohlc_bars, ohlc_merge, ohlc_partials
    from sparkswift.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    want = {
        (r.event_type, r.bucket_ts): (r.open, r.high, r.low, r.close, r.n_events)
        for r in ohlc_bars(ev).collect()
    }
    for n_chops, seed in ((2, 1), (5, 2)):
        chop = F.abs(F.xxhash64(F.col("event_id") + seed) % n_chops)
        parts = [
            ohlc_partials(ev.filter(chop == i)) for i in range(n_chops)
        ]
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionAll(p)
        got = {
            (r.event_type, r.bucket_ts): (
                r.open, r.high, r.low, r.close, r.n_events
            )
            for r in ohlc_merge(merged).collect()
        }
        assert got == want, (n_chops, seed)


def test_group_mode_matches_pure_python(spark, sf_dir):
    """agg24: per-group mode == pure-python counter argmax with the
    smallest-value tie rule."""
    from collections import Counter

    from sparkswift.sources import load_table
    from sparkswift.suite_relational import agg24_group_mode

    ev = load_table(spark, sf_dir, "events")
    got = {
        r.event_type: (r.mode_user, r.mode_count)
        for r in agg24_group_mode(spark, sf_dir).collect()
    }
    groups = {}
    for r in ev.select("event_type", "user_id").collect():
        groups.setdefault(r.event_type, Counter())[r.user_id] += 1
    for g, cnt in groups.items():
        best = min(cnt, key=lambda u: (-cnt[u], u))
        assert got[g] == (best, cnt[best]), g


def test_ewm_mean_matches_pandas(ev):
    """o9: distributed ewm equals pandas groupby().ewm() per user
    (differential testing, the reference's own technique) — for the
    oracle-exact adjust=False dyadic case AND for adjust=True with a
    non-dyadic alpha (pandas-exact even where no SQL twin exists)."""
    from sparkswift.operators.rolling import ewm_mean

    pdf = ev.toPandas().sort_values(["user_id", "ts", "event_id"])
    for alpha, adjust in ((0.25, False), (0.3, True)):
        got = (
            ewm_mean(
                ev, on="value", alpha=alpha,
                partition_by=["user_id"], order_by=["ts", "event_id"],
                adjust=adjust,
            )
            .select("event_id", "ewm")
            .toPandas()
            .sort_values("event_id")
            .reset_index(drop=True)
        )
        want = (
            pdf.groupby("user_id")["value"]
            .apply(lambda s, a=alpha, ad=adjust: s.ewm(alpha=a, adjust=ad).mean())
            .reset_index(level=0, drop=True)
        )
        pdf["__e"] = want
        exp = pdf.sort_values("event_id")["__e"].reset_index(drop=True)
        assert (got["ewm"].values == exp.values).all(), (alpha, adjust)


def test_exact_percentiles_nearest_rank(spark, sf_dir):
    """agg25: nearest-rank selection r = ceil(p*n) == pure-python
    reference on the fixture for p in {0.25, 0.75, 0.95}."""
    import math

    from sparkswift.sources import load_table
    from sparkswift.suite_relational import agg25_exact_percentiles

    ev = load_table(spark, sf_dir, "events")
    groups = {}
    for r in ev.select("event_type", "value", "event_id").collect():
        groups.setdefault(r.event_type, []).append((r.value, r.event_id))
    got = {
        r.event_type: (r.n_events, r.p25, r.p75, r.p95)
        for r in agg25_exact_percentiles(spark, sf_dir).collect()
    }
    for g, vs in groups.items():
        vs.sort()
        n = len(vs)
        want = tuple(
            vs[math.ceil(p * n) - 1][0] for p in (0.25, 0.75, 0.95)
        )
        assert got[g] == (n, *want), g


def test_max_drawdown_matches_pure_python(spark, sf_dir):
    """max_drawdown == a sequential python fold over each user's
    (ts, event_id)-ordered series at milli quantization."""
    from sparkswift.operators.events import max_drawdown

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = ev.select("user_id", "ts", "event_id", "value").collect()
    series: dict[int, list] = {}
    for r in rows:
        series.setdefault(r.user_id, []).append(
            (r.ts, r.event_id, int(r.value * 1000 // 1))
        )
    want = {}
    for u, seq in series.items():
        seq.sort()
        peak = None
        dd = 0
        for _, _, v in seq:
            peak = v if peak is None or v > peak else peak
            dd = max(dd, peak - v)
        want[u] = (len(seq), peak, dd, seq[-1][2])
    got = {
        r.user_id: (
            r.n_events,
            r.peak_scaled,
            r.max_drawdown_scaled,
            r.final_scaled,
        )
        for r in max_drawdown(ev).collect()
    }
    assert got == want


def test_group_moments_matches_numpy(spark, sf_dir):
    """group_moments' derived stats == numpy's population moments on
    the floor-quantized values (within float tolerance; the s1..s4
    sums are asserted exactly)."""
    import math

    import numpy as np

    from sparkswift.operators.profile import group_moments

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = {r.event_type: r for r in group_moments(ev, "value", "event_type").collect()}
    pdf = ev.select("event_type", "value").toPandas()
    for et, grp in pdf.groupby("event_type"):
        v = np.floor(grp["value"].to_numpy()).astype(np.int64)
        r = out[et]
        assert r.n == len(v)
        assert r.s1 == int(v.sum())
        assert r.s2 == int((v.astype(object) ** 2).sum())
        assert r.s3 == int((v.astype(object) ** 3).sum())
        assert r.s4 == int((v.astype(object) ** 4).sum())
        mu = v.mean()
        m2 = ((v - mu) ** 2).mean()
        m3 = ((v - mu) ** 3).mean()
        m4 = ((v - mu) ** 4).mean()
        assert math.isclose(r.mean, mu, rel_tol=1e-9)
        assert math.isclose(r.var_pop, m2, rel_tol=1e-7)
        assert math.isclose(r.skewness, m3 / m2**1.5, rel_tol=1e-6)
        assert math.isclose(
            r.kurtosis_excess, m4 / m2**2 - 3, rel_tol=1e-6
        )


def test_bollinger_bands_matches_numpy(spark, sf_dir):
    """w9: bands == a numpy rolling-window reference over each user's
    (ts, event_id)-ordered milli series; warm-up rows are NULL bands
    + FALSE flag; flag law checked exactly."""
    import math

    import numpy as np

    from sparkswift.operators.events import bollinger_bands

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = bollinger_bands(ev, periods=20, n_sigma=2.0).collect()
    rows = ev.select("user_id", "ts", "event_id", "value").collect()
    series = {}
    for r in rows:
        series.setdefault(r.user_id, []).append(
            (r.ts, r.event_id, int(math.floor(r.value * 1000)))
        )
    for s in series.values():
        s.sort()
    got = {(r.user_id, r.event_id): r for r in out}
    checked_warm = checked_full = 0
    for u, seq in series.items():
        vs = np.array([v for _, _, v in seq], dtype=np.int64)
        for i, (_, eid, v) in enumerate(seq):
            r = got[(u, eid)]
            assert r.v_scaled == v
            if i < 19:
                assert r.mean is None and r.above_upper is False
                checked_warm += 1
                continue
            win = vs[i - 19 : i + 1].astype(np.float64)
            mu = win.mean()
            sig = math.sqrt(max(win.var(), 0.0))
            assert math.isclose(r.mean, mu, rel_tol=1e-12)
            assert math.isclose(r.sigma, sig, rel_tol=1e-9, abs_tol=1e-9)
            assert math.isclose(r.upper, mu + 2 * sig, rel_tol=1e-12)
            assert math.isclose(r.lower, mu - 2 * sig, rel_tol=1e-12)
            assert r.above_upper == (v > r.upper)
            checked_full += 1
    assert checked_warm and checked_full


def test_cusum_alerts_matches_pure_python(spark, sf_dir):
    """w10: per-row cusum/alert == a sequential pure-python fold
    (independent of both the numpy kernel and the SQL oracle);
    restart-after-signal verified on a planted burst."""
    from sparkswift.operators.rolling import cusum_alerts
    from sparkswift.sources import load_table

    # load_table, not read.parquet: unix_micros rejects the raw
    # TIMESTAMP_NTZ scan (the verify-skill NTZ gotcha)
    ev = load_table(spark, sf_dir, "events")
    A, H = 60_000, 400_000
    rows = ev.select("user_id", "ts", "event_id", "value").collect()
    series = {}
    for r in rows:
        series.setdefault(r.user_id, []).append(
            (r.ts, r.event_id, int(r.value * 1000 // 1))
        )
    want = {}
    for u, seq in series.items():
        seq.sort()
        acc = 0
        for _, eid, v in seq:
            acc = max(0, acc + v - A)
            alert = acc > H
            want[(u, eid)] = (v, acc, alert)
            if alert:
                acc = 0
    got = {
        (r.user_id, r.event_id): (r.v_scaled, r.cusum, r.alert)
        for r in cusum_alerts(ev, allowance=A, threshold=H).collect()
    }
    assert got == want
    # (no alert fires at sf0.001 with the headline constants — the
    # alert path is exercised by the planted burst below, and at the
    # driver's sf0.01 the oracle counts 25 alerts, hash-load-bearing)

    # planted burst: three 300k rows against allowance 100k must alert
    # exactly once at the third row, then restart from zero
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    burst = spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=i), i, 300.0) for i in range(4)],
        "user_id long, ts timestamp, event_id long, value double",
    )
    out = sorted(
        cusum_alerts(burst, allowance=100_000, threshold=500_000).collect(),
        key=lambda r: r.event_id,
    )
    assert [r.cusum for r in out] == [200_000, 400_000, 600_000, 200_000]
    assert [r.alert for r in out] == [False, False, True, False]


def test_weighted_median_matches_pure_python(spark, sf_dir):
    """agg27: the weighted lower median == a pure-python cumulative
    fold over the sorted (value, tiebreak) order."""
    import math

    from sparkswift.sources import load_table
    from sparkswift.suite import _REGISTRY

    li = load_table(spark, sf_dir, "lineitem")
    rows = li.select(
        "l_returnflag",
        "l_linestatus",
        "l_extendedprice",
        "l_quantity",
        "l_orderkey",
        "l_linenumber",
    ).collect()
    groups = {}
    for r in rows:
        k = (r.l_returnflag, r.l_linestatus)
        groups.setdefault(k, []).append(
            (
                int(math.floor(r.l_extendedprice * 100)),
                r.l_orderkey,
                r.l_linenumber,
                int(math.floor(r.l_quantity)),
            )
        )
    want = {}
    for k, items in groups.items():
        items.sort()
        total = sum(w for _, _, _, w in items)
        cum = 0
        for v, _, _, w in items:
            cum += w
            if 2 * cum >= total:
                want[k] = (total, v)
                break
    fn = _REGISTRY["agg27_weighted_median"][0]
    got = {
        (r.l_returnflag, r.l_linestatus): (r.total_weight, r.wmedian_cents)
        for r in fn(spark, sf_dir).collect()
    }
    assert got == want


def test_longest_streak_matches_pure_python(spark, sf_dir):
    """w11: longest above-threshold run per user == a sequential
    pure-python scan of the (ts, event_id)-ordered series (argmax
    tie to the earliest start)."""
    from sparkswift.sources import load_table
    from sparkswift.suite import _REGISTRY

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select("user_id", "ts", "event_id", "value").collect()
    series = {}
    for r in rows:
        series.setdefault(r.user_id, []).append(
            (r.ts, r.event_id, r.value >= 100)
        )
    want = {}
    for u, seq in series.items():
        seq.sort()
        best = None  # (len, start_idx_ts)
        cur = 0
        cur_start = None
        for ts, _eid, hot in seq:
            if hot:
                if cur == 0:
                    cur_start = ts
                cur += 1
                cand = (cur, cur_start)
                if (
                    best is None
                    or cand[0] > best[0]
                    or (cand[0] == best[0] and cand[1] < best[1])
                ):
                    best = cand
            else:
                cur = 0
        if best:
            import datetime as dt

            start_us = int(
                best[1]
                .replace(tzinfo=dt.timezone.utc)
                .timestamp()
                * 1_000_000
            )
            want[u] = (best[0], start_us)
    fn = _REGISTRY["w11_longest_streak"][0]
    got = {
        r.user_id: (r.longest_streak, r.streak_start_us)
        for r in fn(spark, sf_dir).collect()
    }
    assert got == want
    assert any(n > 1 for n, _ in got.values())  # real streaks exist


def test_w12_ewm_crossover_matches_pandas_reference(spark):
    """w12 == an independent pandas ewm + sign-change reference on a
    crafted series with known golden/death crossings (and a flat
    prefix whose zero diffs must not emit)."""
    import pandas as pd

    from sparkswift.suite_relational import w12_ewm_crossover  # noqa: F401
    from sparkswift.operators.rolling import ewm_mean
    from pyspark.sql import Window as W

    rows = []
    # user 1: flat 10s (diff exactly 0 - must stay silent), a decline
    # (fast dives under slow), a surge (golden cross), a collapse
    # (death cross)
    vals = (
        [10.0] * 3
        + [8.0, 5.0, 2.0]
        + [50.0, 50.0, 50.0, 50.0]
        + [1.0, 1.0, 1.0, 1.0]
    )
    for i, v in enumerate(vals):
        rows.append((1, i, f"2024-01-01 00:{i:02d}:00", v))
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))

    f = ewm_mean(df, on="value", alpha=0.5,
                 partition_by=["user_id"], order_by=["ts", "event_id"],
                 output_col="fast")
    fs = ewm_mean(f, on="value", alpha=0.25,
                  partition_by=["user_id"], order_by=["ts", "event_id"],
                  output_col="slow")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    d = fs.withColumn("diff", F.col("fast") - F.col("slow")).withColumn(
        "pdiff", F.lag("diff").over(w)
    )
    got = {
        (r.event_id, r.direction)
        for r in d.filter(
            F.col("pdiff").isNotNull()
            & (((F.col("pdiff") < 0) & (F.col("diff") > 0))
               | ((F.col("pdiff") > 0) & (F.col("diff") < 0)))
        ).selectExpr(
            "event_id",
            "CASE WHEN diff > 0 THEN 'golden' ELSE 'death' END AS direction",
        ).collect()
    }

    s = pd.Series(vals)
    fast = s.ewm(alpha=0.5, adjust=False).mean()
    slow = s.ewm(alpha=0.25, adjust=False).mean()
    diff = fast - slow
    want = set()
    for i in range(1, len(vals)):
        if diff[i - 1] < 0 and diff[i] > 0:
            want.add((i, "golden"))
        elif diff[i - 1] > 0 and diff[i] < 0:
            want.add((i, "death"))
    assert got == want
    assert {d for _e, d in want} == {"golden", "death"}
    # the flat prefix produced exact-zero diffs: no signal there
    assert all(eid >= 3 for eid, _ in got)


def test_ewm_mean_global_bit_identity(spark, sf_dir):
    """o9b law: the carry-chain distribution is BIT-identical to the
    single-task ewm kernel at EVERY bucket count — each round replays
    the identical float64 ops in the identical order, continuing from
    the exact carried double, so bucketing cannot perturb a single
    ulp (unlike an algebraic (A, B) affine composition)."""
    import pytest as _pytest

    from sparkswift.operators.rolling import ewm_mean, ewm_mean_global
    from sparkswift.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    base = {
        r.event_id: r.ewm
        for r in ewm_mean(
            ev, on="value", alpha=0.25,
            partition_by=["user_id"], order_by=["ts", "event_id"],
        ).select("event_id", "ewm").collect()
    }
    for nb in (1, 3, 8):
        got = {
            r.event_id: r.ewm
            for r in ewm_mean_global(
                ev, on="value", alpha=0.25, key_col="user_id",
                order_by=["ts", "event_id"], ts_col="ts", n_buckets=nb,
            ).select("event_id", "ewm").collect()
        }
        assert got == base, nb  # exact float ==, not approx

    with _pytest.raises(ValueError, match="alpha"):
        ewm_mean_global(
            ev, on="value", alpha=0.0, key_col="user_id",
            order_by=["ts", "event_id"],
        )
    with _pytest.raises(ValueError, match="max_rounds"):
        ewm_mean_global(
            ev, on="value", alpha=0.25, key_col="user_id",
            order_by=["ts", "event_id"], n_buckets=9, max_rounds=8,
        )


def test_chain_rounds_adaptive(spark, sf_dir):
    """n_buckets=None derives the round count from the
    optimizer-estimated input size (sequential rounds are pure
    overhead until per-key slice volume outgrows task memory):
    floored at 2 so the continued-carry path is always exercised,
    one round per 256 MB of estimate, capped at 64 — and the adaptive
    result is bit-identical to any explicit count (the
    bucketing-invariance law). ``spark.range(n)`` estimates exactly
    8·n bytes, so it pins the clamp at explicit sizes without
    running anything."""
    from sparkswift.operators.rolling import ewm_mean_global
    from sparkswift.operators.spread import width
    from sparkswift.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    per_round = (256 << 20) // 8  # range rows per round budget
    assert width(ev, "rounds") == 2  # tiny fixture -> the floor
    assert width(spark.range(per_round), "rounds") == 2
    assert width(spark.range(5 * per_round), "rounds") == 5
    assert width(spark.range(5 * per_round + 1), "rounds") == 6
    assert width(spark.range(1000 * per_round), "rounds") == 64  # capped

    base = {
        r.event_id: r.ewm
        for r in ewm_mean_global(
            ev, on="value", alpha=0.25, key_col="user_id",
            order_by=["ts", "event_id"], ts_col="ts", n_buckets=4,
        ).select("event_id", "ewm").collect()
    }
    auto = {
        r.event_id: r.ewm
        for r in ewm_mean_global(
            ev, on="value", alpha=0.25, key_col="user_id",
            order_by=["ts", "event_id"], ts_col="ts", n_buckets=None,
        ).select("event_id", "ewm").collect()
    }
    assert auto == base  # exact float ==, not approx


def test_ewm_mean_multi_global_bit_identity(spark, sf_dir):
    """w12b law: the DUAL-alpha carry chain is bit-identical to the
    one-pass ewm_mean_multi kernel at every bucket count — both alpha
    states ride the same carry frame, each column replaying the
    identical float64 ops (the o9b law, applied per column)."""
    import pytest as _pytest

    from sparkswift.operators.rolling import (
        ewm_mean_multi,
        ewm_mean_multi_global,
    )
    from sparkswift.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    alphas = {"fast": 0.5, "slow": 0.25}
    base = {
        r.event_id: (r.fast, r.slow)
        for r in ewm_mean_multi(
            ev, on="value", alphas=alphas,
            partition_by=["user_id"], order_by=["ts", "event_id"],
        ).select("event_id", "fast", "slow").collect()
    }
    for nb in (1, 4):
        got = {
            r.event_id: (r.fast, r.slow)
            for r in ewm_mean_multi_global(
                ev, on="value", alphas=alphas, key_col="user_id",
                order_by=["ts", "event_id"], ts_col="ts", n_buckets=nb,
            ).select("event_id", "fast", "slow").collect()
        }
        assert got == base, nb  # exact float ==, not approx

    with _pytest.raises(ValueError, match="non-empty"):
        ewm_mean_multi_global(
            ev, on="value", alphas={}, key_col="user_id",
            order_by=["ts", "event_id"],
        )


def test_cusum_stat_global_bucketing_invariance(spark, sf_dir):
    """w10b laws: the segmented-scan CUSUM statistic (no-reset)
    equals a sequential pure-python fold bit-for-bit at every bucket
    count (exact int64 — the (sum, min-prefix) carry composition is
    algebraically exact), and the threshold flag fires non-vacuously
    at the test constants."""
    from sparkswift.operators.rolling import cusum_stat_global
    from sparkswift.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    A, H = 60_000, 150_000
    series = {}
    for r in ev.select("user_id", "ts", "event_id", "value").collect():
        series.setdefault(r.user_id, []).append(
            (r.ts, r.event_id, int(r.value * 1000 // 1))
        )
    want = {}
    for u, seq in series.items():
        seq.sort()
        acc = 0
        for _, eid, v in seq:
            acc = max(0, acc + v - A)  # no reset-after-signal
            want[(u, eid)] = (v, acc, acc > H)
    for nb in (1, 4, 9):
        got = {
            (r.user_id, r.event_id): (r.v_scaled, r.cusum, r.alert)
            for r in cusum_stat_global(
                ev, allowance=A, threshold=H, n_buckets=nb
            ).collect()
        }
        assert got == want, nb
    assert any(a for (_, _, a) in want.values())  # alert path non-vacuous


def test_cusum_reset_scan_kernel_fuzz():
    """_cusum_reset_scan (the vectorized segment kernel behind
    w10/st32) == the sequential int64 fold over dense-alert fuzz:
    random values around the allowance, thresholds low enough to
    force MANY resets, nonzero carries — every (s, alert, carry_out)
    triple bit-equal."""
    import numpy as np

    from sparkswift.operators.rolling import _cusum_reset_scan

    rng = np.random.default_rng(5)
    for trial in range(200):
        n = int(rng.integers(0, 60))
        v = rng.integers(-50, 120, n).astype(np.int64)
        allowance = int(rng.integers(0, 40))
        threshold = int(rng.integers(10, 120))
        carry = int(rng.integers(0, threshold + 1))
        s_ref = np.empty(n, dtype=np.int64)
        alert_ref = np.zeros(n, dtype=bool)
        acc = carry
        for i in range(n):
            acc = max(0, acc + int(v[i]) - allowance)
            if acc > threshold:
                alert_ref[i] = True
                s_ref[i] = acc
                acc = 0
            else:
                s_ref[i] = acc
        s, alert, c = _cusum_reset_scan(v, allowance, threshold, carry)
        assert (s == s_ref).all() and (alert == alert_ref).all(), trial
        assert c == acc, trial


def test_cusum_alerts_global_bit_identity(spark, sf_dir):
    """w10c law: the carry-chain distribution of the RESTART CUSUM is
    bit-identical to the single-task cusum_alerts at every bucket
    count — including the reset-at-slice-boundary case the explicit
    __carry handoff exists for (an alerting last row carries 0, not
    its own statistic)."""
    from sparkswift.operators.rolling import cusum_alerts, cusum_alerts_global
    from sparkswift.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    A, H = 60_000, 150_000  # low threshold: alerts fire, resets real
    base = {
        (r.user_id, r.event_id): (r.v_scaled, r.cusum, r.alert)
        for r in cusum_alerts(ev, allowance=A, threshold=H).collect()
    }
    assert any(a for (_, _, a) in base.values())  # non-vacuous
    for nb in (1, 3, 8):
        got = {
            (r.user_id, r.event_id): (r.v_scaled, r.cusum, r.alert)
            for r in cusum_alerts_global(
                ev, allowance=A, threshold=H, n_buckets=nb
            ).collect()
        }
        assert got == base, nb
