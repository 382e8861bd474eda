"""Phase-5 layers: finance math (Jorion oracle), vintages, Fama-MacBeth,
EDGAR extraction, graph measures."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from financial_data_science_spark.backtesting.riskpremium import fama_macbeth
from financial_data_science_spark.functions.edgar_text import (
    clean_html_expr,
    extract_item_str,
    mda_udf,
)
from financial_data_science_spark.functions.finance import (
    bond_price,
    bootstrap_spot,
    forwards_from_spots,
    macaulay_duration,
    modified_duration,
    max_drawdown,
    parkinson_var,
)
from financial_data_science_spark.functions.graph import (
    connected_components,
    degrees,
    pagerank,
)
from financial_data_science_spark.sources.vintages import (
    apply_tcode,
    asof_release,
    date_spans,
    kth_release,
    latest_release,
)


# ----- finance: the reference's own textbook assertion (finance.py:415-423)
def test_bond_bootstrap_jorion_ch5():
    """Jorion Ch.5: semiannual par bonds at 100 -> spot = coupon ytm; then
    price a bond off the bootstrapped curve and reprice consistently."""
    coupons = [0.04, 0.045, 0.05]
    prices = [100.0, 100.0, 100.0]
    spots = bootstrap_spot(coupons, prices, m=1)
    # par bonds: first spot == coupon exactly
    assert abs(spots[0] - 0.04) < 1e-12
    assert spots[2] > spots[1] > spots[0]  # upward curve steeper than par
    # repricing each bond off the spot curve recovers par
    for i, cpn in enumerate(coupons):
        pv = bond_price(cpn * 100, i + 1, 1, spots[: i + 1])
        np.testing.assert_allclose(pv, 100.0, atol=1e-10)
    fwd = forwards_from_spots(spots, m=1)
    assert abs(fwd[0] - spots[0]) < 1e-12 and fwd[2] > spots[2]


def test_duration_zero_coupon():
    """Zero-coupon n-period bond: Macaulay duration == n/m years; modified
    duration == Macaulay / (1 + ytm/m) = 3 / 1.03."""
    ytm = 0.06
    px = bond_price(0.0, 6, 2, ytm)
    d = macaulay_duration(0.0, 6, 2, px, ytm)
    np.testing.assert_allclose(d, 3.0, rtol=1e-12)
    md = modified_duration(0.0, 6, 2, px, ytm)
    np.testing.assert_allclose(md, 2.912621359223301, rtol=1e-12)


def test_parkinson_and_drawdown(spark):
    pdf = pd.DataFrame(
        {"t": range(4), "ret": [0.1, -0.5, 0.2, 0.1], "k": ["a"] * 4}
    )
    out = max_drawdown(spark.createDataFrame(pdf), "ret", order="t", keys="k").toPandas()
    np.testing.assert_allclose(out["max_drawdown"].iloc[0], 0.5, rtol=1e-12)
    hl = spark.createDataFrame(pd.DataFrame({"hi": [101.0], "lo": [99.0]}))
    v = hl.select(parkinson_var("hi", "lo").alias("v")).first()["v"]
    np.testing.assert_allclose(v, np.log(101 / 99) ** 2 / (4 * np.log(2)), rtol=1e-12)


# ----- vintages (alfred.py:334-406)
def _obs(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "series_id": ["GDP"] * 5 + ["USREC"] * 6,
                "date": [20230331] * 3 + [20230630] * 2 + list(range(1, 7)),
                "realtime_start": [20230428, 20230525, 20230629, 20230727, 20230831]
                + [0] * 6,
                "value": [1.1, 1.2, 1.3, 2.1, 2.2, 0, 1, 1, 0, 1, 1],
            }
        )
    )


def test_release_selection(spark):
    obs = _obs(spark).filter(F.col("series_id") == "GDP")
    latest = latest_release(obs).toPandas().set_index("date")["value"]
    assert latest[20230331] == 1.3 and latest[20230630] == 2.2
    first = kth_release(obs, 0).toPandas().set_index("date")["value"]
    assert first[20230331] == 1.1 and first[20230630] == 2.1
    asof = asof_release(obs, 20230601).toPandas().set_index("date")["value"]
    assert asof[20230331] == 1.2 and 20230630 not in asof.index


def test_date_spans_recession(spark):
    obs = _obs(spark).filter(F.col("series_id") == "USREC")
    spans = (
        date_spans(obs, F.col("value") == 1, date_col="date")
        .toPandas()
        .sort_values("beg")
    )
    assert spans[["beg", "end"]].to_numpy().tolist() == [[2, 3], [5, 6]]


def test_tcode_transforms(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"series_id": ["x"] * 4, "date": [1, 2, 3, 4],
                      "value": [100.0, 110.0, 121.0, 133.1]})
    )
    out = apply_tcode(df, 5).toPandas().sort_values("date")["value_t"]
    np.testing.assert_allclose(out.iloc[1:], np.log(1.1), rtol=1e-9)


# ----- Fama-MacBeth (riskpremium.py:42-82)
def test_fama_macbeth_recovers_premium(spark):
    """ret = 0.02 * z(loading) + date effect -> premium 0.02, t huge."""
    rng = np.random.default_rng(5)
    rows = []
    for d in range(1, 25):
        load = rng.normal(size=50)
        z = (load - load.mean()) / load.std(ddof=1)
        ret = 0.02 * z + 0.001 * d
        rows += [(d, i, float(load[i]), float(ret[i])) for i in range(50)]
    panel = spark.createDataFrame(
        pd.DataFrame(rows, columns=["rebaldate", "permno", "beta", "ret"])
    )
    by_date, summary = fama_macbeth(panel, "beta")
    s = summary.toPandas().iloc[0]
    np.testing.assert_allclose(s["mean"], 0.02, atol=1e-9)
    assert s["n_dates"] == 24


# ----- EDGAR text (edgar.py:359-527)
FILING = """
TABLE OF CONTENTS
Item 7. Management's Discussion and Analysis
Item 7A. Quantitative Disclosures
Item 8. Financial Statements

ITEM 7. MANAGEMENT'S DISCUSSION AND ANALYSIS
Revenue grew due to scale. We expect margins to widen.
ITEM 7A. QUANTITATIVE AND QUALITATIVE DISCLOSURES
Interest-rate risk is hedged.
ITEM 8. FINANCIAL STATEMENTS
Balance sheet follows.
"""


def test_extract_item_span():
    got = extract_item_str(FILING, "7", ["7A", "8"])
    assert got is not None
    assert "Revenue grew" in got and "Interest-rate" not in got
    assert extract_item_str(FILING, "9", ["10"]) is None


def test_extract_item_udf_and_html_clean(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"cik": [1], "text": [FILING.replace("\n", "\n")]})
    )
    out = df.select(mda_udf()(F.col("text")).alias("mda")).first()["mda"]
    assert "Revenue grew" in out
    html = spark.createDataFrame(
        pd.DataFrame({"t": ["<html><body><p>Hello &amp; <b>world</b></p>"
                            "<script>var x=1;</script></body></html>"]})
    )
    clean = html.select(clean_html_expr("t").alias("c")).first()["c"]
    assert clean == "Hello world"


# ----- graph (graph.py:36-317)
def test_degrees_and_pagerank(spark):
    edges = spark.createDataFrame(
        pd.DataFrame({"src": [1, 2, 3, 1], "dst": [2, 3, 1, 3]})
    )
    d = degrees(edges).toPandas().set_index("id")
    assert d.loc[1, "out_degree"] == 2 and d.loc[3, "in_degree"] == 2
    pr = pagerank(edges, max_iter=30).toPandas().set_index("id")["rank"]
    np.testing.assert_allclose(pr.sum(), 1.0, atol=1e-6)
    assert pr[3] > pr[2]  # 3 has two in-links


def test_connected_components_dedup_clusters(spark):
    edges = spark.createDataFrame(
        pd.DataFrame({"src": [1, 2, 10, 20], "dst": [2, 3, 11, 10]})
    )
    cc = connected_components(edges).toPandas()
    comp = cc.set_index("id")["comp"]
    assert comp[1] == comp[2] == comp[3]
    assert comp[10] == comp[11] == comp[20]
    assert comp[1] != comp[10]


def test_ff_scale_sentinels(spark):
    from financial_data_science_spark.sources.readers import ff_scale

    df = spark.createDataFrame(
        [(1, -99.99), (2, -999.0), (3, 12.5), (4, 0.0)], "id int, v double"
    )
    got = {
        r.id: r.s
        for r in df.select("id", ff_scale("v").alias("s")).collect()
    }
    assert got[1] is None and got[2] is None
    assert got[3] == 0.125 and got[4] == 0.0
