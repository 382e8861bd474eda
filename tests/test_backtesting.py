"""Backtest + event-study pipelines on hand-computable fixtures."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from financial_data_science_spark.backtesting import (
    event_study,
    portfolio_returns,
    turnover,
    univariate_sorts,
)
from financial_data_science_spark.plans.calendar import TradingCalendar


def test_univariate_sorts_weights(spark):
    """20 names, signal = permno rank, cap-weighted decile long-short."""
    rows = []
    for d in (20230131, 20230228):
        for p in range(1, 21):
            rows.append((d, p, float(p), 100.0 * p))
    uni = spark.createDataFrame(
        pd.DataFrame(rows, columns=["rebaldate", "permno", "value", "cap"])
    )
    h = univariate_sorts(
        uni.select("rebaldate", "permno", "cap"),
        uni.select("rebaldate", "permno", "value"),
    ).toPandas()
    for d, g in h.groupby("rebaldate"):
        longs = g[g.side == 1]
        shorts = g[g.side == -1]
        np.testing.assert_allclose(longs["weight"].sum(), 1.0, rtol=1e-12)
        np.testing.assert_allclose(shorts["weight"].sum(), -1.0, rtol=1e-12)
        # top decile = permnos 19,20 (deciles on value = permno)
        assert set(longs["permno"]) == {19, 20}
        assert set(shorts["permno"]) == {1, 2}
        # cap-weighting inside the side
        w19 = longs.set_index("permno")["weight"][19]
        np.testing.assert_allclose(w19, 1900 / (1900 + 2000), rtol=1e-12)


def test_portfolio_returns_hand_case(spark):
    holdings = spark.createDataFrame(
        pd.DataFrame(
            {
                "rebaldate": [20230131, 20230131],
                "permno": [1, 2],
                "weight": [0.6, 0.4],
            }
        )
    )
    daily = spark.createDataFrame(
        pd.DataFrame(
            {
                "permno": [1, 1, 2, 2],
                "date": [20230210, 20230220, 20230210, 20230220],
                "ret": [0.10, 0.10, -0.05, 0.0],
            }
        )
    )
    intervals = spark.createDataFrame(
        pd.DataFrame({"beg": [20230131], "end": [20230228]})
    )
    out = portfolio_returns(holdings, daily, intervals).toPandas()
    want = 0.6 * (1.1 * 1.1 - 1) + 0.4 * (0.95 - 1)
    np.testing.assert_allclose(out["ret"].iloc[0], want, rtol=1e-12)


def test_portfolio_returns_holdings_from_daily(spark, daily, daily_pdf):
    """Holdings derived from the same ``daily`` frame share its permno
    attribute: the join must still pair each holding with its own
    security's compounded return."""
    begs = [20230131, 20230228, 20230331]
    ends = begs[1:] + [20230428]
    intervals = spark.createDataFrame(pd.DataFrame({"beg": begs, "end": ends}))
    holdings = daily.filter(F.col("date").isin(begs)).select(
        F.col("date").alias("rebaldate"),
        "permno",
        (F.col("permno") - 10000).cast("double").alias("weight"),
    )
    got = portfolio_returns(holdings, daily, intervals).toPandas().set_index("beg")
    for beg, end in zip(begs, ends):
        held = daily_pdf[daily_pdf.date == beg]["permno"]
        win = daily_pdf[(daily_pdf.date > beg) & (daily_pdf.date <= end)]
        comp = win.groupby("permno")["ret"].apply(
            lambda s: np.prod(1 + s.dropna()) - 1 if s.notna().any() else 0.0
        )
        want = sum((p - 10000) * comp[p] for p in held if p in comp.index)
        np.testing.assert_allclose(got.loc[beg, "ret"], want, rtol=1e-12)
        assert got.loc[beg, "end"] == end


def test_turnover_deltas(spark):
    holdings = spark.createDataFrame(
        pd.DataFrame(
            {
                "rebaldate": [1, 1, 2, 2],
                "permno": [10, 11, 10, 12],
                "weight": [0.5, 0.5, 0.8, 0.2],
            }
        )
    )
    out = turnover(holdings).toPandas().set_index("rebaldate")
    np.testing.assert_allclose(out.loc[1, "buys"], 1.0)
    # rebal 2: 10 +0.3, 12 +0.2 -> buys 0.5; 11 dropped... (no sell row since
    # weight row absent) -> sells counts only explicit negative deltas
    np.testing.assert_allclose(out.loc[2, "buys"], 0.5)


def test_event_study_analytic_car(spark, calendar_dates):
    """Constant 1% daily abnormal return -> CAR(rel) = 0.01*(rel-left+1)."""
    cal = TradingCalendar.from_dates(
        spark.createDataFrame(pd.DataFrame({"date": calendar_dates}))
    )
    dates = calendar_dates
    daily = spark.createDataFrame(
        pd.DataFrame(
            {
                "permno": [1] * len(dates) + [2] * len(dates),
                "date": dates * 2,
                "ret": [0.01] * len(dates) + [0.02] * len(dates),
            }
        )
    )
    market = spark.createDataFrame(
        pd.DataFrame({"date": dates, "mktret": [0.0] * len(dates)})
    )
    events = spark.createDataFrame(
        pd.DataFrame(
            {"permno": [1, 2], "announcedate": [dates[100], dates[200]]}
        )
    )
    cb, stats = event_study(events, daily, market, cal, left=-1, right=3)
    s = stats.toPandas().set_index("rel")
    for rel in range(-1, 4):
        k = rel + 2  # days since left edge
        want_mean = (0.01 * k + 0.02 * k) / 2
        np.testing.assert_allclose(s.loc[rel, "car_mean"], want_mean, rtol=1e-9)
    cbp = cb.toPandas()
    one = cbp[(cbp.permno == 1)].sort_values("rel")
    np.testing.assert_allclose(
        one["bhar"].to_numpy(), (1.01 ** np.arange(1, 6)) - 1, rtol=1e-9
    )


def test_kupiec_matches_closed_form(spark, daily):
    """LR and chi2(1) pvalue vs the exact math.erf closed form
    (finance.py:360-389)."""
    import math

    from financial_data_science_spark.functions.stats import kupiec_stats

    out = (
        kupiec_stats(daily.filter(F.col("ret").isNotNull()), [], ret="ret", alpha=0.05)
        .toPandas()
        .iloc[0]
    )
    n, s = int(out["n"]), int(out["violations"])
    p = 0.05
    num = (n - s) * math.log(1 - p) + s * math.log(p)
    den = (n - s) * math.log(1 - s / n) + s * math.log(s / n)
    lr = -2 * (num - den)
    assert out["lr"] == pytest.approx(lr, rel=1e-9)
    # A&S approximation vs exact erf: |err| < 1.5e-7
    assert out["pvalue"] == pytest.approx(1 - math.erf(math.sqrt(lr / 2)), abs=2e-7)
    # in-sample 5% VaR violates ~5% of the time by construction
    assert s / n == pytest.approx(0.05, abs=0.01)


def test_bootstrap_risk_distribution(spark, daily):
    """Bootstrap VaR distribution centers on the point estimate, is
    deterministic under a fixed seed, and yields a positive stderr."""
    from financial_data_science_spark.functions.stats import (
        bootstrap_risk,
        risk_summary,
    )

    src = daily.filter(F.col("ret").isNotNull()).filter(F.col("permno") <= 10010)
    point = risk_summary(src, [], ret="ret").toPandas().iloc[0]["var"]
    bs = bootstrap_risk(src, [], ret="ret", n_samples=12, seed=7).toPandas()
    assert len(bs) == 12 and bs["sample_id"].nunique() == 12
    assert bs["var"].std(ddof=1) > 0
    assert abs(bs["var"].mean() - point) < 4 * bs["var"].std(ddof=1) / (12 ** 0.5) + 1e-4
    again = bootstrap_risk(src, [], ret="ret", n_samples=12, seed=7).toPandas()
    assert (bs.sort_values("sample_id")["var"].to_numpy()
            == again.sort_values("sample_id")["var"].to_numpy()).all()


def test_bivariate_sorts_bruteforce(spark):
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from financial_data_science_spark.backtesting.backtest import (
        bivariate_sorts,
    )

    rng = np.random.default_rng(3)
    n = 60
    uni = pd.DataFrame({
        "rebaldate": [20200131] * n,
        "permno": np.arange(n),
        "cap": rng.uniform(1, 100, n).round(6),
        "decile": rng.integers(1, 11, n),
        "nyse": (np.arange(n) % 2 == 0),
    })
    sig = pd.DataFrame({
        "rebaldate": [20200131] * n,
        "permno": np.arange(n),
        "value": rng.uniform(0, 1, n).round(6),
    })
    got = (
        bivariate_sorts(
            spark.createDataFrame(uni), spark.createDataFrame(sig),
            key_filter=F.col("nyse"),
        )
        .toPandas()
        .set_index(["port", "permno"])
        .sort_index()
    )
    # pandas oracle: numpy interpolated percentiles on the key subset,
    # strict searchsorted descending
    key_vals = sig.loc[uni["nyse"].values, "value"]
    b = np.percentile(key_vals, [30, 70], method="linear")
    frac = 3 - (sig["value"].values[:, None] > b[None, :]).sum(1)
    m = uni.assign(value=sig["value"], fractile=frac)
    m["subport"] = pd.Series(
        np.array(["H", "M", "L"])[m["fractile"] - 1], index=m.index
    ) + pd.Series(np.where(m["decile"] <= 5, "B", "S"), index=m.index)
    cellsum = m.groupby("subport")["cap"].transform("sum")
    m["cellw"] = m["cap"] / cellsum
    hml = m[m["fractile"].isin([1, 3])].copy()
    hml["weight"] = np.where(hml["fractile"] == 1, 0.5, -0.5) * hml["cellw"]
    smb = m.copy()
    smb["weight"] = np.where(smb["subport"].str.endswith("S"), 0.5, -0.5) * smb["cellw"]
    assert len(got.loc["hml"]) == len(hml) and len(got.loc["smb"]) == len(smb)
    for _, r in hml.iterrows():
        assert got.loc[("hml", r["permno"]), "weight"] == pytest.approx(r["weight"])
        assert got.loc[("hml", r["permno"]), "subport"] == r["subport"]
    for _, r in smb.iterrows():
        assert got.loc[("smb", r["permno"]), "weight"] == pytest.approx(r["weight"])
    # spread sides are self-financing per rebalance: weights sum to ~0
    assert abs(got.loc["hml", "weight"].sum()) < 1e-9
    assert abs(got.loc["smb", "weight"].sum()) < 1e-9


def test_performance_attribution_vs_numpy(spark):
    import math

    import numpy as np
    import pandas as pd

    from financial_data_science_spark.backtesting.backtest import (
        performance_attribution,
    )

    rng = np.random.default_rng(13)
    n = 120
    x = rng.normal(0.01, 0.04, n)
    y = 0.002 + 0.8 * x + rng.normal(0, 0.02, n)
    dates = np.arange(n)
    perf = spark.createDataFrame(pd.DataFrame({"date": dates, "excess": y}))
    bench = spark.createDataFrame(pd.DataFrame({"date": dates, "ret": x}))
    got = performance_attribution(
        perf, bench, mult=12.0, split=60
    ).toPandas().iloc[0]

    beta = np.cov(y, x, ddof=0)[0, 1] / np.var(x)
    alpha = y.mean() - beta * x.mean()
    r = np.corrcoef(y, x)[0, 1]
    resid_sd = math.sqrt(np.var(y) * (1 - r * r))
    assert got["n"] == n
    assert got["excess"] == pytest.approx(12 * y.mean())
    assert got["sharpe"] == pytest.approx(math.sqrt(12) * y.mean() / y.std(ddof=1))
    assert got["beta"] == pytest.approx(beta)
    assert got["alpha"] == pytest.approx(12 * alpha)
    assert got["appraisal"] == pytest.approx(math.sqrt(12) * alpha / resid_sd)
    y1, y2 = y[:60], y[60:]
    t = (y2.mean() - y1.mean()) / math.sqrt(
        y1.var(ddof=1) / 60 + y2.var(ddof=1) / 60
    )
    assert got["welch_t"] == pytest.approx(t)
    p_normal = math.erfc(abs(t) / math.sqrt(2))
    assert got["welch_p"] == pytest.approx(p_normal, abs=2e-7)  # A&S polynomial


def test_degenerate_groups_yield_null_not_ansi_error(spark):
    """ANSI robustness (the sf0.1 tcode lesson generalized): constant
    cross-sections, zero weight sums, and zero-variance regressors must
    produce NULL stats, never a DIVIDE_BY_ZERO job failure."""
    import pandas as pd

    from financial_data_science_spark.backtesting.riskpremium import (
        standardize_loadings,
    )
    from financial_data_science_spark.functions.stats import weighted_mean

    # constant loading on one date (sd == 0) + normal date
    lo = spark.createDataFrame(
        pd.DataFrame(
            {
                "rebaldate": [1, 1, 1, 2, 2, 2],
                "permno": [1, 2, 3, 1, 2, 3],
                "beta": [5.0, 5.0, 5.0, 1.0, 2.0, 3.0],
            }
        )
    )
    z = standardize_loadings(lo, ["beta"], date_col="rebaldate").toPandas()
    assert z[z.rebaldate == 1].beta.isna().all()
    assert not z[z.rebaldate == 2].beta.isna().any()

    # weights summing to zero within the group
    wdf = spark.createDataFrame(
        pd.DataFrame({"g": [1, 1], "x": [2.0, 4.0], "w": [1.0, -1.0]})
    )
    out = wdf.groupBy("g").agg(weighted_mean("x", "w")).toPandas()
    assert out["wmean"].isna().all()
