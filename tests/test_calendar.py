"""Trading calendar vs numpy busday oracle (busday.py semantics)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from financial_data_science_spark.plans.calendar import TradingCalendar


def _cal(spark, calendar_dates):
    return TradingCalendar.from_dates(
        spark.createDataFrame(pd.DataFrame({"date": calendar_dates}))
    )


def test_offset_roundtrip(spark, calendar_dates):
    cal = _cal(spark, calendar_dates)
    df = spark.createDataFrame(pd.DataFrame({"d": calendar_dates[50:150]}))
    fwd = cal.offset(df, "d", 7, out="d7")
    back = cal.offset(fwd, "d7", -7, out="d_back")
    p = back.toPandas()
    assert (p["d"] == p["d_back"]).all()


def test_offset_matches_list_shift(spark, calendar_dates):
    cal = _cal(spark, calendar_dates)
    df = spark.createDataFrame(pd.DataFrame({"d": calendar_dates[:-10]}))
    p = cal.offset(df, "d", 3, out="d3").toPandas().sort_values("d")
    idx = {d: i for i, d in enumerate(calendar_dates)}
    want = [calendar_dates[idx[d] + 3] for d in p["d"]]
    assert p["d3"].tolist() == want


def test_month_end_respects_holiday(spark, calendar_dates):
    """20231229 is a synthetic holiday -> December 2023 ends on the 28th."""
    cal = _cal(spark, calendar_dates)
    ends = {
        int(r["date"])
        for r in cal.period_ends("month").collect()
    }
    assert 20231228 in ends and 20231229 not in ends


def test_date_tuples_consecutive(spark, calendar_dates):
    cal = _cal(spark, calendar_dates)
    t = cal.date_tuples(20220101, 20221231, "month").toPandas()
    assert (t["beg"] < t["end"]).all()
    # ends chain: beg of row i+1 == end of row i
    assert t["beg"].iloc[1:].tolist() == t["end"].iloc[:-1].tolist()


def test_date_calendar_rejects_int_bounds(spark, calendar_dates):
    """A dim built from a native date column takes ISO-string or date
    bounds; an int YYYYMMDD bound raises a TypeError naming them."""
    import datetime

    dates = pd.to_datetime(pd.Series(calendar_dates).astype(str)).dt.date
    cal = TradingCalendar.from_dates(
        spark.createDataFrame(pd.DataFrame({"date": dates}))
    )
    for call in (cal.date_range, cal.date_tuples):
        with pytest.raises(TypeError, match="ISO date strings or datetime.date"):
            call(20220101, 20221231, "month")
    got = cal.date_tuples("2022-01-01", datetime.date(2022, 12, 31)).count()
    assert got == 11


def test_month_key_is_yyyymm(spark):
    from financial_data_science_spark.functions.dates import month_key

    df = spark.createDataFrame(pd.DataFrame({"d": [20220103, 20221230, 19991231]}))
    got = [r[0] for r in df.select(month_key("d")).collect()]
    assert got == [202201, 202212, 199912]


def test_week_and_quarter_flags(spark, calendar_dates):
    cal = _cal(spark, calendar_dates)
    dim = cal.dim.toPandas()
    # every week_num has exactly one week-end flag
    per_week = dim.groupby("week_num")["is_week_end"].sum()
    assert (per_week == 1).all()
    q_ends = dim[dim.is_quarter_end]["date"].tolist()
    assert 20220331 in q_ends and 20220930 in q_ends


def test_june_universe_and_december_fiscal(spark):
    from financial_data_science_spark.sources.testdata import load_table
    from financial_data_science_spark.plans.calendar import TradingCalendar

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    cal = TradingCalendar.from_dates(li.select(F.col("l_shipdate").alias("date")))
    dim = cal.dim.toPandas()
    dim["y"] = dim["date"].dt.year
    dim["m"] = dim["date"].dt.month
    june_end = dim[dim.m == 6].groupby("y")["date"].max().to_dict()
    year_end = dim.groupby("y")["date"].max().to_dict()

    probe = li.select(F.col("l_shipdate").alias("d")).distinct()
    got = (
        cal.attach_december_fiscal(
            cal.attach_june_universe(probe, "d"), "d"
        )
        .toPandas()
        .sort_values("d")
    )
    for _, r in got.iterrows():
        y, m = r.d.year, r.d.month
        want_june = june_end[y] if (y in june_end and r.d >= june_end[y]) else june_end.get(y - 1)
        want_dec = year_end.get(y - 1) if m >= 6 else year_end.get(y - 2)
        if want_june is not None:
            assert r.june_universe == want_june, (r.d, r.june_universe, want_june)
        if want_dec is not None:
            assert r.december_fiscal == want_dec, (r.d, r.december_fiscal, want_dec)


def test_calendar_reads_do_not_rescan_the_source(spark):
    """The dim is materialized at construction: plans over it carry no
    scan of the frame it was built from, and its joins stay broadcast."""
    from financial_data_science_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem")
    cal = TradingCalendar.from_dates(li.select(F.col("l_shipdate").alias("date")))
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    plans = {
        name: df._jdf.queryExecution().executedPlan().toString()
        for name, df in (
            ("date_tuples", cal.date_tuples("1995-01-01", "1996-12-31", "month")),
            ("offset", cal.offset(o, "o_orderdate", 1, out="next_d")),
        )
    }
    for name, plan in plans.items():
        assert "lineitem" not in plan, (name, plan)
    assert "BroadcastHashJoin" in plans["offset"]
    assert "SortMergeJoin" not in plans["offset"]
