"""Dataset facades vs pandas oracles (CRSP/Signals/links semantics)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from financial_data_science_spark.datasets import (
    CRSP,
    Benchmarks,
    Signals,
    Stocks,
    get_linked,
    get_permnos,
)


@pytest.fixture(scope="module")
def crsp(spark, daily, names_pdf):
    return CRSP(daily, names=spark.createDataFrame(names_pdf))


def test_get_section_prevailing(spark, daily, daily_pdf):
    s = Stocks(daily)
    got = s.get_section("daily", ["prc"], 20230630).toPandas()
    sl = daily_pdf[daily_pdf.date <= 20230630]
    want = sl.sort_values("date").groupby("permno").last()["prc"]
    m = got.set_index("permno")["prc"].sort_index()
    np.testing.assert_allclose(m.to_numpy(), want.sort_index().to_numpy(), rtol=1e-12)


def test_get_cap_permco_window_sum(crsp, daily_pdf, names_pdf):
    got = crsp.get_cap(20230331, use_permco=True).toPandas()
    # two permnos share a permco: capco is their summed cap
    nm = names_pdf[names_pdf.date <= 20230331].sort_values("date").groupby("permno").last()
    merged = got.merge(nm["permco"], left_on="permno", right_index=True)
    want = merged.groupby("permco_y")["cap"].transform("sum")
    np.testing.assert_allclose(merged["capco"], want, rtol=1e-9)


def test_get_universe_screens(crsp):
    uni = crsp.get_universe(20230331).toPandas()
    assert set(uni["shrcd"]) <= {10, 11}
    assert set(uni["exchcd"]) <= {1, 2, 3}
    assert (uni["cap"] > 0).all()
    assert uni["decile"].between(1, 10).all()
    # descending: decile 1 = biggest caps
    top = uni[uni.decile == 1]["capco"].min()
    bot = uni[uni.decile == 10]["capco"].max()
    assert top >= bot


def _final_plan(df) -> str:
    """The executed (AQE final) plan of ``df`` after running it."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


def test_get_universe_scans_each_input_once(spark, daily_pdf, names_pdf, tmp_path):
    """One cross-section: names, daily and shares are each scanned once,
    and the NYSE breakpoints are no broadcast cross join."""
    shares_pdf = (
        daily_pdf[daily_pdf.date.isin([20220103, 20230103])]
        .rename(columns={"date": "shrsdt"})[["permno", "shrsdt", "shrout"]]
    )
    frames = {}
    for name, pdf in (("daily", daily_pdf), ("names", names_pdf), ("shares", shares_pdf)):
        pdf.to_parquet(tmp_path / name, index=False)
        frames[name] = spark.read.parquet(str(tmp_path / name))
    crsp = CRSP(frames["daily"], names=frames["names"], shares=frames["shares"])
    plan = _final_plan(crsp.get_universe(20230331))
    for name in frames:
        assert plan.count(f"/{name}]") == 1, (name, plan)
    assert "BroadcastNestedLoopJoin" not in plan


def test_get_universe_deciles_match_numpy(spark):
    """Deciles vs numpy: NYSE-only linear-percentile breakpoints on 6-dp
    capco, strict searchsorted, descending.  Permnos 5 and 6 share a
    permco (both NYSE), so their tied capco IS a breakpoint; permno 20
    (exchange 2) shares permno 2's permco and ties its capco; permno 30
    (share code 12, screened out) still counts toward permno 8's capco."""
    d = 20230331
    caps = {p: 100.0 * p + 7.0 * (p % 3) for p in range(1, 12)}  # 11 NYSE
    caps.update({20: 55.0, 21: 180.5, 22: 1000.0, 23: 3.0, 30: 40.0, 31: 500.0})
    exch = {p: 1 for p in range(1, 12)}
    exch.update({20: 2, 21: 3, 22: 2, 23: 3, 30: 1, 31: 4})
    permco = {p: 700 + p for p in caps}
    permco.update({6: permco[5], 20: permco[2], 30: permco[8]})
    rows = []
    for p, c in caps.items():
        rows.append((p, d - 30, 1.0, 1.0))  # an older row the section skips
        rows.append((p, d, -2.0 if p % 4 == 0 else 2.0, c / 2.0))
    daily = pd.DataFrame(rows, columns=["permno", "date", "prc", "shrout"])
    names = pd.DataFrame(
        {
            "permno": list(caps),
            "date": [20200101] * len(caps),
            "shrcd": [12 if p == 30 else 10 + p % 2 for p in caps],
            "exchcd": [exch[p] for p in caps],
            "permco": [permco[p] for p in caps],
        }
    )
    crsp = CRSP(spark.createDataFrame(daily), names=spark.createDataFrame(names))
    got = crsp.get_universe(d).toPandas().set_index("permno")

    sec = daily[daily.date <= d].sort_values("date").groupby("permno").last()
    ref = names.drop(columns="date").set_index("permno").join(sec, how="inner")
    ref["cap"] = ref["prc"].abs() * ref["shrout"]
    ref["capco"] = ref.groupby("permco")["cap"].transform("sum")
    ref = ref[
        ref.shrcd.isin([10, 11]) & ref.exchcd.isin([1, 2, 3])
        & (ref.cap > 0) & (ref.capco > 0)
    ].copy()
    ref["capco"] = ref["capco"].round(6)
    bp = np.percentile(
        ref.loc[ref.exchcd == 1, "capco"], list(range(10, 100, 10)), method="linear"
    )
    ref["decile"] = len(bp) + 1 - np.searchsorted(bp, ref["capco"], side="left")

    assert ref.loc[5, "capco"] == ref.loc[6, "capco"] and ref.loc[5, "capco"] in bp
    assert ref.loc[20, "capco"] == ref.loc[2, "capco"] and ref.loc[2, "capco"] in bp
    assert sorted(got.index) == sorted(ref.index)
    got = got.loc[ref.index]
    np.testing.assert_allclose(got["capco"], ref["capco"], rtol=0, atol=0)
    assert got["decile"].tolist() == ref["decile"].tolist()


def test_get_ret_with_delist(spark, monthly_pdf, daily):
    crsp = CRSP(daily, monthly=spark.createDataFrame(monthly_pdf))
    got = (
        crsp.get_ret_with_delist(20241101, 20241231)
        .toPandas()
        .set_index("permno")["ret"]
    )
    base = monthly_pdf[
        (monthly_pdf.date >= 20241101) & (monthly_pdf.date <= 20241231)
    ]
    # permno 10001: code 500 null dlret -> (1+ret)(0.7)-1 on the delist row
    r = base[(base.permno == 10001) & (base.dlstcd == 0)]["ret"]
    dl_row = base[(base.permno == 10001) & (base.dlstcd == 500)]["ret"].iloc[0]
    want = np.prod(1 + r) * ((1 + dl_row) * 0.7) - 1
    np.testing.assert_allclose(got[10001], want, rtol=1e-9)
    # permno 10002: code 100 not in default set, null dlret -> unadjusted
    r2 = base[base.permno == 10002]["ret"]
    np.testing.assert_allclose(got[10002], np.prod(1 + r2) - 1, rtol=1e-9)


def test_get_linked_asof_switch(spark, links_pdf):
    links = spark.createDataFrame(links_pdf)
    data = spark.createDataFrame(
        pd.DataFrame(
            {
                "gvkey": [2001, 2001, 2002, 2003],
                "datadate": [20230101, 20230801, 20220601, 20230101],
                "x": [1.0, 2.0, 3.0, 4.0],
            }
        )
    )
    out = get_linked(data, links).toPandas().set_index(["gvkey", "datadate"])
    assert out.loc[(2001, 20230101), "lpermno"] == 10001  # first link prevails
    assert out.loc[(2001, 20230801), "lpermno"] == 10002  # switched
    assert out.loc[(2002, 20220601), "lpermno"] == 10003  # linkdt=0 open start
    assert np.isnan(out.loc[(2003, 20230101), "lpermno"])  # LD screened out


def test_get_linked_enforce_end(spark, links_pdf):
    links = spark.createDataFrame(links_pdf)
    data = spark.createDataFrame(
        pd.DataFrame({"gvkey": [2001], "datadate": [20230640], "x": [1.0]})
    )
    # 20230640 > linkenddt 20230630 of the first link, before second starts
    out = get_linked(data, links).toPandas()
    assert np.isnan(out["lpermno"].iloc[0])


def test_get_permnos_fixed_date(spark, links_pdf):
    links = spark.createDataFrame(links_pdf)
    keys = spark.createDataFrame(pd.DataFrame({"gvkey": [2001, 2002, 2003, 2099]}))
    out = get_permnos(keys, links, 20240101).toPandas().set_index("gvkey")["lpermno"]
    assert out[2001] == 10002
    assert out[2002] == 10003
    assert out[2003] == 0 and out[2099] == 0


def test_signals_roundtrip(spark, tmp_path):
    sig = Signals(str(tmp_path / "signals"))
    pdf = pd.DataFrame(
        {
            "permno": [1, 1, 2, 2, 3],
            "rebaldate": [20230131, 20230228, 20230131, 20230131, 20230131],
            "mom": [0.5, 0.6, np.inf, 0.7, np.nan],
        }
    )
    n = sig.write(spark.createDataFrame(pdf), "mom")
    assert n == 3  # inf + nan dropped, dup PK deduped
    prevailing = sig(spark, "mom", 20230315, 20221231).toPandas().set_index("permno")
    assert prevailing.loc[1, "mom"] == 0.6  # latest <= date
    assert prevailing.loc[2, "mom"] == 0.7


def test_benchmarks_from_wide(spark):
    wide = spark.createDataFrame(
        pd.DataFrame(
            {"date": [20230131, 20230228], "Mkt-RF": [0.01, -0.02], "RF": [0.001, 0.001]}
        )
    )
    b = Benchmarks.from_wide(wide)
    out = b.get_series(["Mkt-RF"], 20230101, 20231231).toPandas()
    assert out["permno"].tolist() == ["Mkt-RF", "Mkt-RF"]
    np.testing.assert_allclose(sorted(out["ret"]), [-0.02, 0.01])


def test_pstat_keydev_labels(spark):
    from financial_data_science_spark.datasets.pstat import (
        KEYDEV_EVENTS,
        KEYDEV_ROLES,
        PSTAT,
    )

    df = spark.createDataFrame(
        [(28, 1), (47, 3), (999, 14), (85, 99)],
        "keydeveventtypeid int, keydevtoobjectroletypeid int",
    )
    got = PSTAT(spark).label_keydev(df).toPandas()
    lut = got.set_index("keydeveventtypeid")
    assert lut.loc[28, "event_label"] == KEYDEV_EVENTS[28]
    assert lut.loc[999, "event_label"] == "Other"
    assert lut.loc[85, "role_label"] == "Other"  # role 99 unknown
    assert (
        got.set_index("keydevtoobjectroletypeid").loc[3, "role_label"]
        == KEYDEV_ROLES[3]
    )


def test_ibes_link_bridge(spark):
    """write_links as-of semantics: max names.date <= sdates per cusip;
    unmatched idents keep null permno (ibes.py:131-158)."""
    import pandas as pd

    from financial_data_science_spark.datasets.links import (
        build_ibes_links,
        ibes_get_permnos,
    )

    idents = spark.createDataFrame(
        pd.DataFrame(
            {
                "ticker": ["AAA", "AAA", "BBB", "CCC"],
                "sdates": [20200115, 20210115, 20200601, 20200601],
                "cusip": ["11111111", "11111111", "22222222", "33333333"],
                "cname": ["A Corp", "A Corp", "B Corp", "C Corp"],
            }
        )
    )
    names = spark.createDataFrame(
        pd.DataFrame(
            {
                "ncusip": ["11111111", "11111111", "22222222"],
                "date": [20200101, 20200701, 20200301],
                "comnam": ["A OLD", "A NEW", "B CO"],
                "permno": [101, 101, 202],
            }
        )
    )
    links = build_ibes_links(idents, names).toPandas().set_index(["ticker", "sdates"])
    assert links.loc[("AAA", 20200115), "comnam"] == "A OLD"   # 0101 <= 0115
    assert links.loc[("AAA", 20210115), "comnam"] == "A NEW"   # 0701 <= 2021
    assert links.loc[("BBB", 20200601), "permno"] == 202
    assert pd.isna(links.loc[("CCC", 20200601), "permno"])     # no cusip match
    ldf = build_ibes_links(idents, names)
    t = spark.createDataFrame(pd.DataFrame({"ticker": ["AAA", "BBB", "ZZZ"]}))
    pm = ibes_get_permnos(ldf, t, 20200701).toPandas().set_index("ticker")["permno"]
    assert pm["AAA"] == 101 and pm["BBB"] == 202 and pm["ZZZ"] == 0
