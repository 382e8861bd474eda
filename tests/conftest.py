"""Shared Spark session + deterministic domain fixtures (FIXTURES.md).

Fixtures mirror the reference's declared schemas (CRSP-shaped): int
YYYYMMDD dates on a synthetic Mon-Fri trading calendar with holidays,
negative prices (bid-ask midpoint convention), nullable returns, delist
codes.  Seed fixed; generators are pure functions of the seed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from financial_data_science_spark import get_spark

SEED = 42


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def calendar_dates() -> list[int]:
    """~3 years of Mon-Fri trading dates minus holidays, as int YYYYMMDD.

    Includes a holiday adjacent to a month end (2023-12-29 is the last
    Friday of 2023 -> removed, so endmo(December) is 2023-12-28).
    """
    days = pd.bdate_range("2022-01-03", "2024-12-31", freq="C")
    holidays = {20220704, 20221124, 20231229, 20240101, 20240704}
    ints = [int(d.strftime("%Y%m%d")) for d in days]
    return [d for d in ints if d not in holidays]


@pytest.fixture(scope="session")
def daily_pdf(calendar_dates) -> pd.DataFrame:
    """50 permnos x calendar with list/delist gaps, null rets, negative prc."""
    rng = np.random.default_rng(SEED)
    rows = []
    n = len(calendar_dates)
    for permno in range(10001, 10051):
        start = rng.integers(0, n // 4)
        end = rng.integers(3 * n // 4, n)
        prc0 = rng.uniform(5, 200)
        for i in range(start, end):
            ret = rng.normal(0, 0.02)
            if rng.random() < 0.01:
                ret = np.nan
            prc0 *= 1 + (0 if np.isnan(ret) else ret)
            prc = -prc0 if rng.random() < 0.05 else prc0
            rows.append(
                (
                    permno,
                    calendar_dates[i],
                    ret,
                    ret - 0.0001,
                    prc,
                    float(rng.integers(100, 10000)),
                    int(rng.integers(100, 50000)),
                )
            )
    return pd.DataFrame(
        rows, columns=["permno", "date", "ret", "retx", "prc", "vol", "shrout"]
    )


@pytest.fixture(scope="session")
def daily(spark, daily_pdf):
    return spark.createDataFrame(daily_pdf).cache()


@pytest.fixture(scope="session")
def monthly_pdf(calendar_dates) -> pd.DataFrame:
    """Month-end rows incl. delist rows exercising the -0.3 default."""
    rng = np.random.default_rng(SEED + 1)
    cal = pd.Series(calendar_dates)
    month = cal // 100
    ends = cal.groupby(month).max().tolist()
    rows = []
    for permno in range(10001, 10021):
        for d in ends:
            rows.append((permno, int(d), rng.normal(0.01, 0.05), 0, np.nan))
    # delist rows: codes in/out of the default set, dlret null/present
    rows.append((10001, ends[-1], 0.02, 500, np.nan))
    rows.append((10002, ends[-1], 0.02, 100, np.nan))
    rows.append((10003, ends[-1], 0.02, 560, -0.15))
    return pd.DataFrame(rows, columns=["permno", "date", "ret", "dlstcd", "dlret"])


@pytest.fixture(scope="session")
def names_pdf() -> pd.DataFrame:
    """Identity history: 2-3 rows per permno, permcos shared (crsp.py:95-114)."""
    rows = []
    for i, permno in enumerate(range(10001, 10051)):
        permco = 500 + i // 2  # two permnos share one permco
        rows.append((20220103, permno, 20230630, f"CO{permno}A", 10 + (i % 3 == 0),
                     1 + i % 3, permco))
        rows.append((20230701, permno, 20991231, f"CO{permno}B", 10 + (i % 3 == 0),
                     1 + i % 3, permco))
    return pd.DataFrame(
        rows, columns=["date", "permno", "nameendt", "comnam", "shrcd", "exchcd", "permco"]
    )


@pytest.fixture(scope="session")
def links_pdf() -> pd.DataFrame:
    """gvkey<->permno point-in-time links (pstat.py:237-256): a gvkey whose
    permno changes mid-sample, one with linkdt=0, one with no valid link."""
    return pd.DataFrame(
        [
            (2001, 20220103, 20230630, 10001, "LC"),
            (2001, 20230701, 0, 10002, "LC"),
            (2002, 0, 0, 10003, "LU"),
            (2003, 20220103, 0, 0, "LD"),
        ],
        columns=["gvkey", "linkdt", "linkenddt", "lpermno", "linktype"],
    )


@pytest.fixture(scope="session")
def trades_pdf() -> pd.DataFrame:
    """One synthetic session per symbol incl. rows P7 must exclude."""
    rng = np.random.default_rng(SEED + 2)
    rows = []
    for sym in ["AAA", "BBB"]:
        t = pd.Timestamp("2024-03-01 09:25:00")
        px = 100.0
        for i in range(500):
            t += pd.Timedelta(seconds=abs(rng.normal(30, 20)) + 1)
            px *= 1 + rng.normal(0, 0.0005)
            cond = "@" if rng.random() > 0.05 else "Z"  # Z excluded
            corr = 0 if rng.random() > 0.02 else 1
            vol = float(rng.integers(1, 500) * 100)
            rows.append((sym, t, i, px, vol, cond, corr))
    return pd.DataFrame(
        rows, columns=["symbol", "time", "seq", "price", "volume", "cond", "corr"]
    )
