"""research_panel: the monthly research loop of a FinDS user's script over a
seeded CRSP/Compustat-shaped panel held in memory.

Why: operators, backtesting, datasets and plans do nearly all the work;
it is window- and shuffle-heavy over cached inputs, while sources,
streaming and functions barely run.

A batch here is one result the script waits for (the rebalance list, the
checkpointed universe, signal and holdings, the collected holdings, then
each collected result): 9 a pass.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from financial_data_science_spark.backtesting import backtest, eventstudy, riskpremium
from financial_data_science_spark.datasets import links as links_mod
from financial_data_science_spark.datasets.structured import CRSP
from financial_data_science_spark.operators import asof as asof_mod
from financial_data_science_spark.operators import compounding
from financial_data_science_spark.plans.calendar import TradingCalendar

from perfbench.common import PassResult, digest, rows

name = "research_panel"
SIZES = {
    "full": {"permnos": 200, "days": 200, "rebals": 2},
    "tiny": {"permnos": 60, "days": 130, "rebals": 3},
}


# ------------------------------------------------------------------ inputs
def _trading_days(rng, n: int) -> np.ndarray:
    days = pd.bdate_range("2019-01-02", periods=n + n // 25)
    holidays = rng.choice(len(days), size=len(days) - n, replace=False)
    days = days.delete(np.sort(holidays))
    return (days.year * 10000 + days.month * 100 + days.day).to_numpy()


def generate(seed: int, size: str = "full") -> dict[str, pd.DataFrame]:
    """Seeded panel: daily rows (negative midpoint prices, null returns,
    delistings), names with exchange switches, shares, links with
    re-links and screened link types, quarterly fundamentals with report
    dates, and an equal-weighted market series."""
    cfg = SIZES[size]
    rng = np.random.default_rng(seed)
    n, nd = cfg["permnos"], cfg["days"]
    dates = _trading_days(rng, nd)
    permnos = 10000 + np.arange(n)

    def share(frac: float) -> np.ndarray:
        """A random set of exactly round(frac * n) securities: the seed
        moves which ones, not how many, so the work per pass stays put."""
        return rng.permutation(n) < round(frac * n)

    def spread(lo: int, hi: int) -> np.ndarray:
        return rng.permutation(np.linspace(lo, hi, n).astype(int))

    def mix(values, fracs) -> np.ndarray:
        counts = np.round(np.array(fracs) * n).astype(int)
        counts[-1] = n - counts[:-1].sum()
        return rng.permutation(np.repeat(values, counts))

    first = np.where(share(0.3), spread(1, nd // 2), 0)
    last = np.where(share(0.1), spread(nd // 2, nd - 2), nd - 1)
    exch = mix([1, 2, 3], [0.4, 0.1, 0.5])
    shrcd = mix([10, 11, 12, 31], [0.6, 0.3, 0.05, 0.05])
    permco = np.where(share(0.05), 50000 + rng.integers(0, n // 10 + 1, n), 20000 + np.arange(n))
    shrout = rng.integers(1_000, 500_000, n).astype(float)

    idx = [np.arange(first[i], last[i] + 1) for i in range(n)]
    counts = np.array([len(x) for x in idx])
    di = np.concatenate(idx)
    pi = np.repeat(np.arange(n), counts)
    ret = rng.normal(0.0004, 0.02, len(di))
    price = 20 * np.exp(np.cumsum(rng.normal(0, 0.02, len(di))) * 0.1) * rng.uniform(0.5, 3, n)[pi]
    prc = np.where(rng.random(len(di)) < 0.05, -price, price)
    daily = pd.DataFrame({
        "permno": permnos[pi].astype("int64"),
        "date": dates[di].astype("int64"),
        "prc": prc.round(4),
        "ret": np.where(rng.random(len(di)) < 0.02, np.nan, ret.round(6)),
        "shrout": shrout[pi] * np.where(di > nd // 2, 1.1, 1.0),
    })

    switch = share(0.05)
    sw_day = rng.integers(nd // 4, nd - 1, n)
    names = pd.DataFrame({
        "permno": np.concatenate([permnos, permnos[switch]]),
        "date": np.concatenate([dates[first], dates[sw_day[switch]]]).astype("int64"),
        "shrcd": np.concatenate([shrcd, shrcd[switch]]).astype("int64"),
        "exchcd": np.concatenate([exch, 4 - exch[switch] if switch.any() else exch[switch]]).astype("int64"),
        "permco": np.concatenate([permco, permco[switch]]).astype("int64"),
    })
    q_days = np.arange(0, nd, 63)
    shares = pd.DataFrame({
        "permno": np.repeat(permnos, len(q_days)),
        "shrsdt": np.tile(dates[q_days], n).astype("int64"),
        "shrout": (np.repeat(shrout, len(q_days)) * rng.uniform(0.95, 1.05, n * len(q_days))).round(0),
    })

    gvkey = 100000 + np.arange(n)
    relink = share(0.1)
    lt = mix(["LC", "LU", "LX"], [0.6, 0.35, 0.05])
    mid = dates[nd // 3]
    links = pd.DataFrame({
        "gvkey": np.concatenate([gvkey, gvkey[relink]]).astype("int64"),
        "linkdt": np.concatenate([np.where(relink, 0, np.where(first > 0, dates[first], 0)), np.full(relink.sum(), mid)]).astype("int64"),
        "linkenddt": np.concatenate([np.where(relink, dates[nd // 3 - 1], np.where(last < nd - 1, dates[last], 0)), np.zeros(relink.sum())]).astype("int64"),
        "lpermno": np.concatenate([permnos, permnos[relink]]).astype("int64"),
        "linktype": np.concatenate([lt, np.full(relink.sum(), "LC")]),
    })

    # quarterly fundamentals: datadate every 63 trading days, reported
    # 20-40 trading days later (the report date is the event-study event)
    dd = np.arange(0, nd - 45, 63)
    lag = rng.integers(20, 41, (n, len(dd)))
    rep = np.minimum(dd[None, :] + lag, nd - 12)
    fund = pd.DataFrame({
        "gvkey": np.repeat(gvkey, len(dd)).astype("int64"),
        "datadate": np.tile(dates[dd], n).astype("int64"),
        "rdq": dates[rep.ravel()].astype("int64"),
        "value": rng.normal(0, 1, n * len(dd)).round(6),
    })
    fund = fund[np.repeat(last, len(dd)) >= rep.ravel()].reset_index(drop=True)

    market = (
        daily.groupby("date", as_index=False)["ret"].mean()
        .rename(columns={"ret": "mktret"})
    )
    market["mktret"] = market["mktret"].round(8)
    return {"daily": daily, "names": names, "shares": shares, "links": links,
            "fund": fund, "market": market, "rebals": cfg["rebals"]}


# ---------------------------------------------------------------- workload
def setup(spark, seed: int, work: str, size: str = "full") -> dict:
    """Generate the panel, write it as parquet and cache it in memory."""
    data = generate(seed, size)
    os.makedirs(work)
    frames = {}
    for k, pdf in data.items():
        if isinstance(pdf, pd.DataFrame):
            path = os.path.join(work, k)
            pdf.to_parquet(path, index=False)
            frames[k] = spark.read.parquet(path).cache()
            frames[k].count()
    return {"spark": spark, "pd": data, "df": frames, "rebals": data["rebals"]}


def release(state: dict) -> None:
    for df in state["df"].values():
        df.unpersist()


def patch(tracer) -> None:
    """Nothing in this workload's layers is entered from inside the library."""


def run_pass(state: dict, tr, i: int) -> PassResult:
    d = state["df"]
    batch_s, out = [], {}
    t = time.perf_counter()

    def done(df=None):
        """End a batch; a frame the script reuses is checkpointed, so
        later steps plan against its rows, not its whole lineage."""
        nonlocal t
        if df is not None:
            df = df.localCheckpoint(eager=True)
        now = time.perf_counter()
        batch_s.append(now - t)
        t = now
        return df

    # 1. calendar and the rebalance dates (plans)
    cal = tr.call("plans", TradingCalendar.from_dates, d["daily"].select("date"))
    beg, end = int(state["pd"]["daily"]["date"].min()), int(state["pd"]["daily"]["date"].max())
    month_ends = [r[0] for r in tr.call("plans", cal.date_range, beg, end, "month").collect()]
    rebals = month_ends[-state["rebals"] - 1:-1]
    intervals = tr.call("plans", cal.date_tuples, rebals[0], end, "month")
    done()

    # 2. investable universe per rebalance date (datasets)
    crsp = CRSP(d["daily"], calendar=cal, names=d["names"], shares=d["shares"])
    unis = [
        tr.call("datasets", crsp.get_universe, r).withColumn("rebaldate", F.lit(r))
        for r in rebals
    ]
    universe = unis[0]
    for u in unis[1:]:
        universe = universe.unionByName(u)
    universe = universe.select("rebaldate", "permno", "cap", "exchcd")
    universe = done(universe)

    # 3. point-in-time signal: link fundamentals, as-of the rebalance date
    avail = d["fund"].withColumn("avail", F.col("rdq"))
    linked = tr.call("datasets", links_mod.get_linked, avail, d["links"], date_field="datadate")
    linked = linked.filter(F.col("lpermno").isNotNull()).select(
        F.col("lpermno").alias("permno"), "avail", "value")
    signal = tr.call(
        "operators", asof_mod.asof_join, universe.select("rebaldate", "permno"), linked,
        by="permno", left_on="rebaldate", right_on="avail",
    ).filter(F.col("value").isNotNull()).select("rebaldate", "permno", "value")
    signal = done(signal)

    # 4. decile sorts into long/short holdings (backtesting)
    holdings = tr.call(
        "backtesting", backtest.univariate_sorts, universe, signal,
        key_filter=F.col("exchcd") == 1,
    )
    holdings = done(holdings)
    out["holdings"] = rows(holdings.select("rebaldate", "side", "permno", "weight"))
    done()

    # 5. portfolio returns and turnover (backtesting)
    out["returns"] = rows(tr.call("backtesting", backtest.portfolio_returns, holdings, d["daily"], intervals))
    done()
    out["turnover"] = rows(tr.call("backtesting", backtest.turnover, holdings))
    done()

    # 6. event study around report dates (backtesting)
    events = linked.select("permno", F.col("avail").alias("announcedate")).distinct()
    _, stats = tr.call("backtesting", eventstudy.event_study, events, d["daily"], d["market"], cal)
    out["event_stats"] = rows(stats)
    done()

    # 7. Fama-MacBeth of next-period returns on the signal (backtesting)
    fwd = tr.call("operators", compounding.compound_intervals, d["daily"], intervals, "permno")
    panel = signal.join(fwd.select(F.col("beg").alias("rebaldate"), "permno", "ret"),
                        ["rebaldate", "permno"])
    _, summary = tr.call("backtesting", riskpremium.fama_macbeth, panel, "value")
    out["fama_macbeth"] = rows(summary)
    done()

    return PassResult(out, batch_s)


def check(state: dict, res: PassResult):
    o = res.outputs
    sides: dict = {}
    for rebal, side, _, w in o["holdings"]:
        sides[rebal, side] = sides.get((rebal, side), 0.0) + w
    yield "weights_sum_to_one", bool(sides) and all(
        abs(w - side) < 1e-9 for (_, side), w in sides.items())
    # one period's portfolio return, recompounded in numpy from the inputs
    rebals = sorted({r[0] for r in o["holdings"]})
    sample = rebals[len(rebals) // 2]
    ret_row = next(r for r in o["returns"] if r[0] == sample)
    beg, end = ret_row[0], ret_row[1]
    daily = state["pd"]["daily"]
    win = daily[(daily["date"] > beg) & (daily["date"] <= end)]
    comp = win.groupby("permno")["ret"].apply(
        lambda s: np.prod(1 + s.dropna()) - 1 if s.notna().any() else 0.0)
    expect = sum(w * comp.get(p, 0.0) for r, _, p, w in o["holdings"] if r == sample)
    yield "portfolio_return_matches_numpy", abs(expect - ret_row[2]) < 1e-9 * max(1.0, abs(expect))


def result_digest(res: PassResult) -> str:
    return digest(res.outputs)


def run_notes(state: dict) -> dict:
    return {"daily_rows": len(state["pd"]["daily"])}
