"""Finance scalar/column functions (reference recipes/finance.py).

Bond math is driver-side scalar (applied per-row via column expressions
when vectorized over curves); volatility estimators are pure column
expressions aggregating OHLC panels (finance.py:230-276); drawdown is the
W4 window pattern.  The bond bootstrap reproduces the reference's one true
unit test (Jorion Ch.5, finance.py:415-423).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ----------------------------------------------------------- bond math

def bond_price(
    coupon: float, n: int, m: int, yields: float | list[float], par: float = 100.0
) -> float:
    """PV of coupon bond: n periods, m per year, yield(s) per period
    (finance.py:83-110).  ``yields`` scalar or per-period spot list."""
    ys = [yields] * n if isinstance(yields, (int, float)) else list(yields)
    assert len(ys) == n
    c = coupon / m
    pv = sum(c / (1 + ys[t] / m) ** (t + 1) for t in range(n))
    return pv + par / (1 + ys[n - 1] / m) ** n


def bootstrap_spot(
    coupons: list[float], prices: list[float], m: int = 2, par: float = 100.0
) -> list[float]:
    """Bootstrap spot curve from coupon bond prices (finance.py:140-165):
    solve each successive spot so the bond reprices exactly.  ``coupons``
    are annual rates as decimals (0.04 = 4%)."""
    spots: list[float] = []
    for i, (cpn, px) in enumerate(zip(coupons, prices)):
        c = cpn * par / m
        pv_coupons = sum(c / (1 + spots[t] / m) ** (t + 1) for t in range(i))
        # solve (c + par) / (1+s/m)^(i+1) = px - pv_coupons
        rhs = px - pv_coupons
        s = m * (((c + par) / rhs) ** (1.0 / (i + 1)) - 1)
        spots.append(s)
    return spots


def forwards_from_spots(spots: list[float], m: int = 2) -> list[float]:
    """Implied per-period forward rates (finance.py:167-184)."""
    fwd = [spots[0]]
    for t in range(1, len(spots)):
        ratio = (1 + spots[t] / m) ** (t + 1) / (1 + spots[t - 1] / m) ** t
        fwd.append(m * (ratio - 1))
    return fwd


def macaulay_duration(
    coupon: float, n: int, m: int, price: float, ytm: float, par: float = 100.0
) -> float:
    """Weighted-average time to cash flows, in years (finance.py:186-205)."""
    c = coupon / m
    flows = [c] * (n - 1) + [c + par]
    wsum = sum(
        (t + 1) * cf / (1 + ytm / m) ** (t + 1) for t, cf in enumerate(flows)
    )
    return wsum / (price * m)


def bond_convexity(
    coupon: float, n: int, m: int, price: float, ytm: float, par: float = 100.0
) -> float:
    """Convexity in years^2 (finance.py:207-221)."""
    c = coupon / m
    flows = [c] * (n - 1) + [c + par]
    s = sum(
        (t + 1) * (t + 2) * cf / (1 + ytm / m) ** (t + 3)
        for t, cf in enumerate(flows)
    )
    return s / (price * m * m)


# ------------------------------------- vectorized (Column) bond twins

def bond_price_col(
    coupon: Column, n: Column, m: int, ytm: Column, par: float = 100.0
) -> Column:
    """Vectorized twin of :func:`bond_price` (flat ytm): one codegen
    stage prices an entire bond-portfolio frame — sequence+aggregate
    over the cash-flow index, no Python per row (the scalar form stays
    for driver-side curve work, matching the reference's usage)."""
    c = coupon / m
    per = 1.0 + ytm / m
    ts = F.sequence(F.lit(1), n)
    pv = F.aggregate(
        ts,
        F.lit(0.0),
        lambda acc, t: acc + c / F.pow(per, t.cast("double")),
    )
    return pv + par / F.pow(per, n.cast("double"))


def macaulay_duration_col(
    coupon: Column, n: Column, m: int, price: Column, ytm: Column,
    par: float = 100.0,
) -> Column:
    """Vectorized twin of :func:`macaulay_duration` (years)."""
    c = coupon / m
    per = 1.0 + ytm / m
    ts = F.sequence(F.lit(1), n)
    wsum = F.aggregate(
        ts,
        F.lit(0.0),
        lambda acc, t: acc
        + t.cast("double")
        * (c + F.when(t == n, F.lit(par)).otherwise(0.0))
        / F.pow(per, t.cast("double")),
    )
    return wsum / (price * m)


def bond_convexity_col(
    coupon: Column, n: Column, m: int, price: Column, ytm: Column,
    par: float = 100.0,
) -> Column:
    """Vectorized twin of :func:`bond_convexity` (years^2)."""
    c = coupon / m
    per = 1.0 + ytm / m
    ts = F.sequence(F.lit(1), n)
    ssum = F.aggregate(
        ts,
        F.lit(0.0),
        lambda acc, t: acc
        + t.cast("double")
        * (t.cast("double") + 1.0)
        * (c + F.when(t == n, F.lit(par)).otherwise(0.0))
        / F.pow(per, t.cast("double") + 2.0),
    )
    return ssum / (price * m * m)


# --------------------------------------------- volatility estimators

def parkinson_var(hi: str | Column, lo: str | Column) -> Column:
    """Parkinson high-low variance estimator per row (finance.py:230-246);
    aggregate with F.avg over the estimation window."""
    h = F.col(hi) if isinstance(hi, str) else hi
    l = F.col(lo) if isinstance(lo, str) else lo
    return F.pow(F.log(h / l), 2) / (4.0 * math.log(2.0))


def garman_klass_var(
    op: str | Column, hi: str | Column, lo: str | Column, cl: str | Column
) -> Column:
    """Garman-Klass OHLC variance estimator per row (finance.py:248-262)."""
    o, h = F.col(op) if isinstance(op, str) else op, F.col(hi) if isinstance(hi, str) else hi
    l, c = F.col(lo) if isinstance(lo, str) else lo, F.col(cl) if isinstance(cl, str) else cl
    return 0.5 * F.pow(F.log(h / l), 2) - (2.0 * math.log(2.0) - 1.0) * F.pow(
        F.log(c / o), 2
    )


def rogers_satchell_var(
    op: str | Column, hi: str | Column, lo: str | Column, cl: str | Column
) -> Column:
    """Rogers-Satchell drift-robust estimator per row (finance.py:264-276)."""
    o = F.col(op) if isinstance(op, str) else op
    h = F.col(hi) if isinstance(hi, str) else hi
    l = F.col(lo) if isinstance(lo, str) else lo
    c = F.col(cl) if isinstance(cl, str) else cl
    return F.log(h / c) * F.log(h / o) + F.log(l / c) * F.log(l / o)


# ------------------------------------------------------------ drawdown

def max_drawdown(
    df: DataFrame, ret_col: str, order: list[str] | str,
    keys: list[str] | str | None = None,
) -> DataFrame:
    """W4: cumulative log-wealth -> running max -> max gap per key
    (finance.py:286-307)."""
    from financial_data_science_spark.operators.windows import (
        _guard,
        tiny_ordered_window,
    )

    order = [order] if isinstance(order, str) else list(order)
    keys_l = [keys] if isinstance(keys, str) else list(keys or [])
    w = (
        Window.partitionBy(*keys_l).orderBy(*order)
        if keys_l
        else tiny_ordered_window(*order)
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wealth = F.sum(F.log1p(F.col(ret_col))).over(w)
    peak = F.max(wealth).over(w)
    ddc = F.lit(1.0) - F.exp(wealth - peak)
    if not keys_l:
        ddc = _guard(ddc, order)
    dd = df.withColumn("__dd__", ddc)
    grp = dd.groupBy(*keys_l) if keys_l else dd.groupBy()
    return grp.agg(F.max("__dd__").alias("max_drawdown"))


def halflife(alpha: float) -> float:
    """Halflife of an EWMA with decay lambda = 1 - alpha:
    -ln(2)/ln(1-alpha) (reference finance.py:392-399)."""
    import math as _math

    if 0 < alpha < 1:
        return -_math.log(2) / _math.log(1 - alpha)
    return float("inf") if alpha > 0 else 0.0
