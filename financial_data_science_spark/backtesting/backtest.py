"""Loop-free portfolio backtesting (reference §3.2 re-expressed).

Reference: finds/backtesting/backtesting.py (univariate_sorts: a python
loop over rebalance dates, each issuing several SQL queries) and
backtest.py (BackTest.__call__: a second loop over holding periods).

Spark re-expression (SURVEY §3.2): holdings for ALL rebalance dates are
one DataFrame ``(rebaldate, permno, weight)`` computed set-at-a-time with
windows partitioned by rebaldate; period portfolio returns are one
interval-compounded join.  Two shuffle-bounded jobs replace
~2 queries x N months.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from financial_data_science_spark.operators import compound_intervals
from financial_data_science_spark.operators.fractiles import bucket_expr, quantiles_expr


def univariate_sorts(
    universe: DataFrame,
    signal: DataFrame,
    pcts: list[float] | None = None,
    key_filter=None,
    weight_col: str = "cap",
    sub: tuple[int, int] = (1, 10),
    exact: bool = True,
) -> DataFrame:
    """Signal-sorted portfolio holdings for every rebalance date at once.

    ``universe``: (rebaldate, permno, <weight_col>, is_key...) — the
    eligible cross-sections (one per rebalance date, §3.1).
    ``signal``: (rebaldate, permno, value) — prevailing signal values.

    Per rebaldate: breakpoints on the key sub-population (A6 semantics,
    backtesting.py:71-76), bucket all names, long top fractile / short
    bottom (``sub``), weights proportional to ``weight_col`` normalized
    within (rebaldate, side).  Entirely window-based: one shuffle on
    rebaldate.  Breakpoints default to exact interpolated percentiles
    (``exact=True``): the per-rebaldate population is one cross-section
    (thousands of names), bounded regardless of total data size, so the
    exact buffer poses no memory risk and keeps numpy/DuckDB parity; pass
    ``exact=False`` for the Greenwald-Khanna sketch if cross-sections are
    ever huge.  Null signals get a null fractile and drop out of the
    long/short sides, matching the reference's dropna() before
    searchsorted.
    """
    pcts = pcts or [10.0 * i for i in range(1, 10)]
    probs = F.array(*[F.lit(p / 100.0) for p in pcts])
    j = universe.join(signal, ["rebaldate", "permno"], "inner")
    wd = Window.partitionBy("rebaldate")
    key_src = F.when(key_filter, F.col("value")) if key_filter is not None else F.col("value")
    breaks = quantiles_expr(key_src, probs, exact).over(wd)
    j = j.withColumn("fractile", bucket_expr(F.col("value"), breaks))
    lo, hi = sub
    sided = j.filter(F.col("fractile").isin(lo, hi)).withColumn(
        "side", F.when(F.col("fractile") == hi, 1).otherwise(-1)
    )
    ws = Window.partitionBy("rebaldate", "side")
    return sided.withColumn(
        "weight",
        F.col("side") * F.try_divide(F.col(weight_col), F.sum(weight_col).over(ws)),
    ).select("rebaldate", "permno", "fractile", "side", "weight")


def bivariate_sorts(
    universe: DataFrame,
    signal: DataFrame,
    pcts: tuple[float, float] = (30.0, 70.0),
    key_filter=None,
    weight_col: str = "cap",
    size_col: str = "decile",
    big_max: int = 5,
    leverage: float = 1.0,
    label: str = "hml",
    exact: bool = True,
    breaks_round: int | None = None,
) -> DataFrame:
    """Fama-French two-way sort holdings for every rebalance date at once
    (reference backtesting.py:95-199 bivariate_sorts).

    Independent sorts: the signal into High/Mid/Low at the (30, 70) key
    (NYSE) percentiles descending (fractile 1 = High), and size into
    Big/Small at ``size_col <= big_max`` (the reference uses the NYSE cap
    decile from get_universe).  The six intersection subportfolios are
    value-weighted within cell; the ``label`` spread is +0.5 HB +0.5 HS
    -0.5 LB -0.5 LS and ``smb`` is +0.5 each small cell -0.5 each big
    cell, exactly the reference's weights.  Returns one long frame
    (rebaldate, permno, port, subport, weight) for ALL rebalances — two
    rebaldate-partitioned windows replace the reference's per-month loop;
    non-rebalance-month drift composes downstream (portfolio_returns /
    daily performance), not here.
    """
    j = universe.join(signal, ["rebaldate", "permno"], "inner")
    wd = Window.partitionBy("rebaldate")
    key_src = (
        F.when(key_filter, F.col("value")) if key_filter is not None
        else F.col("value")
    )
    probs = F.array(*[F.lit(p / 100.0) for p in pcts])
    breaks = quantiles_expr(key_src, probs, exact).over(wd)
    if breaks_round is not None:
        # interpolated percentiles can land within an ulp of a data value
        # (engine-dependent arithmetic order); snapping breakpoints to the
        # data's own decimal grid makes the strict-> bucketing
        # deterministic across engines/partitionings
        breaks = F.transform(breaks, lambda b: F.round(b, breaks_round))
    j = j.withColumn("fractile", bucket_expr(F.col("value"), breaks, ascending=False))
    j = j.withColumn(
        "subport",
        F.concat(
            F.element_at(F.array(F.lit("H"), F.lit("M"), F.lit("L")), F.col("fractile")),
            F.when(F.col(size_col) <= big_max, F.lit("B")).otherwise(F.lit("S")),
        ),
    ).filter(F.col("fractile").isNotNull())
    wcell = Window.partitionBy("rebaldate", "subport")
    j = j.withColumn(
        "cellw", F.try_divide(F.col(weight_col), F.sum(weight_col).over(wcell))
    )
    spread_side = F.when(F.col("fractile") == 1, 0.5).when(
        F.col("fractile") == 3, -0.5
    )
    smb_side = F.when(F.col("subport").endswith("S"), 0.5).otherwise(-0.5)
    spread = j.withColumn("side", spread_side).filter(F.col("side").isNotNull())
    spread = spread.select(
        "rebaldate", "permno", F.lit(label).alias("port"), "subport",
        (F.lit(leverage) * F.col("side") * F.col("cellw")).alias("weight"),
    )
    smb = j.select(
        "rebaldate", "permno", F.lit("smb").alias("port"), "subport",
        (F.lit(leverage) * smb_side * F.col("cellw")).alias("weight"),
    )
    return spread.unionByName(smb)


def portfolio_returns(
    holdings: DataFrame,
    daily: DataFrame,
    intervals: DataFrame,
    ret_col: str = "ret",
) -> DataFrame:
    """BackTest.__call__ (backtest.py:101-181) set-at-a-time: compound
    constituent returns within each (beg, end] holding period (A4), join
    holdings on (rebaldate=beg, permno), weighted-sum per period."""
    per = compound_intervals(daily, intervals, "permno", ret_col=ret_col, alias="pret")
    # named keys: holdings derived from ``daily`` (checkpointed or not)
    # share its permno attribute, so ``holdings.permno == per.permno``
    # would be a trivially-true predicate that only worked because
    # Dataset.join re-resolves it
    j = holdings.join(
        per.withColumnRenamed("beg", "rebaldate"), ["rebaldate", "permno"], "inner"
    )
    return (
        j.groupBy(F.col("rebaldate").alias("beg"), "end")
        .agg(
            F.sum(F.col("weight") * F.coalesce("pret", F.lit(0.0))).alias("ret"),
            F.count(F.lit(1)).alias("n_holdings"),
        )
        .orderBy("beg")
    )


def turnover(holdings: DataFrame) -> DataFrame:
    """A16: per-rebalance buys/sells from holding deltas
    (backtest.py:156-169): the reference outer-joins the previous holdings
    against the current ones, so a name that LEAVES the portfolio counts
    as a full sell (delta = -prev_weight), and a name that enters counts
    as a full buy.  A lag window cannot express the exit rows (there is no
    current row to lag from), so we materialize the outer set: each
    holding row emits BOTH its contributions in one explode — (seq,
    weight, 0) for the current rebalance and (seq+1, 0, weight) shifted
    one forward — and one hash aggregate per (rebalance, permno)
    reconstitutes the full-outer pair.  (r14: formerly a unionByName of
    two projections over the holdings frame, which walked the holdings
    lineage — the lineitem aggregate + weight window — once per branch;
    the explode emits the same contribution multiset from ONE walk, so
    the sums are identical.  Measured 0.63s -> 0.57s warm on the sf0.1
    bench entry.)  Two shuffles, both on the holdings keys; no driver
    iteration.
    """
    # the rebalance calendar carries its OWN successor (lead over the
    # distinct dates) so the shifted contribution lands directly on the
    # next rebalance DATE — r15: the former integer-seq encoding joined
    # this tiny frame twice under two DIFFERENT broadcast keys
    # (rebaldate to attach seq, then __seq__ to map back), which the
    # runtime can never deduplicate, so the whole distinct-dates lineage
    # (a full holdings walk) executed twice per action.  A null
    # successor is the phantom (last + 1) rebalance the seq shape
    # dropped with its inner join back; the filter drops the same rows.
    seq = holdings.select("rebaldate").distinct().select(
        "rebaldate",
        F.lead("rebaldate", 1).over(
            Window.orderBy("rebaldate")
        ).alias("__next__"),
    )
    h = holdings.join(F.broadcast(seq), "rebaldate")
    contrib = (
        h.select(
            "permno",
            F.explode(
                F.array(
                    F.struct(
                        F.col("rebaldate").alias("rebaldate"),
                        F.col("weight").alias("w"),
                        F.lit(0.0).alias("pw"),
                    ),
                    F.struct(
                        F.col("__next__").alias("rebaldate"),
                        F.lit(0.0).alias("w"),
                        F.col("weight").alias("pw"),
                    ),
                )
            ).alias("__c__"),
        )
        .select("permno", "__c__.rebaldate", "__c__.w", "__c__.pw")
        .filter(F.col("rebaldate").isNotNull())
    )
    oj = contrib.groupBy("rebaldate", "permno").agg(
        F.sum("w").alias("w"), F.sum("pw").alias("pw")
    )
    delta = F.col("w") - F.col("pw")
    return (
        oj.groupBy("rebaldate")
        .agg(
            F.sum(F.when(delta > 0, delta)).alias("buys"),
            (-F.sum(F.when(delta < 0, delta))).alias("sells"),
            F.sum(F.when(F.col("w") > 0, 1).otherwise(0)).alias("n_long"),
            F.sum(F.when(F.col("w") < 0, 1).otherwise(0)).alias("n_short"),
        )
        .orderBy("rebaldate")
    )


def smooth_holdings(holdings: DataFrame, k: int) -> DataFrame:
    """W10 overlap smoothing (backtest.py:140-149): the reference keeps the
    last k holdings frames, zero-fills each name over their union, and
    divides by the number of frames — so a name held only in an older
    rebalance still carries weight/k today, and a name held in all k
    frames is averaged over k even if its own row count is smaller.

    Set-at-a-time: each holding row is exploded forward to the next k-1
    rebalance sequence numbers (bounded by the last rebalance), then one
    hash aggregate per (target rebalance, permno) sums the contributions
    and divides by the number of frames in the window, min(seq, k).  The
    explode fan-out is exactly k, so data volume is k x holdings — no
    window-over-sparse-rows pitfall and no driver loop.
    """
    seq = holdings.select("rebaldate").distinct().withColumn(
        "__seq__", F.row_number().over(Window.orderBy("rebaldate"))
    )
    max_seq = seq.agg(F.max("__seq__").alias("__max_seq__"))
    h = holdings.join(F.broadcast(seq), "rebaldate").join(F.broadcast(max_seq))
    exploded = h.select(
        F.explode(
            F.sequence(
                F.col("__seq__"),
                F.least(F.col("__seq__") + (k - 1), F.col("__max_seq__")),
            )
        ).alias("__seq__"),
        "permno",
        F.col("weight").alias("__w__"),
    )
    return (
        exploded.groupBy("__seq__", "permno")
        .agg(F.sum("__w__").alias("__sum_w__"))
        .join(F.broadcast(seq), "__seq__")
        .withColumn(
            "weight",
            F.col("__sum_w__") / F.least(F.col("__seq__"), F.lit(k)),
        )
        .select("rebaldate", "permno", "weight")
    )


def performance_attribution(
    perf: DataFrame,
    bench: DataFrame,
    mult: float = 12.0,
    split: int | str | None = None,
    date_col: str = "date",
    excess_col: str = "excess",
    bench_col: str = "ret",
) -> DataFrame:
    """Annualized backtest attribution vs one benchmark (reference
    backtest.py:223-282 BackTest.fit): annualized excess return, Sharpe,
    OLS alpha and appraisal ratio, and the Welch t-test between the
    sub-periods before/after ``split``.

    One inner join on date + one hash aggregate: alpha/appraisal come
    from the simple-OLS normal equations (appraisal denominator is the
    population residual std = sqrt(var_y * (1 - r2))), Welch from
    conditional moment sums.  ``mult`` is the periods-per-year
    annualization factor the reference derives from the riskfree
    calendar; the Welch p-value uses the normal approximation to the
    t distribution (no scipy in this stack — exact for the hundreds of
    periods a real backtest has; documented deviation for tiny samples).
    """
    from financial_data_science_spark.functions.stats import _erf_approx

    j = perf.select(
        F.col(date_col).alias("__d__"), F.col(excess_col).alias("__y__")
    ).join(
        bench.select(F.col(date_col).alias("__d__"), F.col(bench_col).alias("__x__")),
        "__d__",
    )
    y, x = F.col("__y__"), F.col("__x__")
    pre = split is not None and F.col("__d__") < F.lit(split)
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(y).alias("my"),
        F.stddev_samp(y).alias("sy"),
        F.var_pop(y).alias("vy"),
        F.avg(x).alias("mx"),
        F.covar_pop(y, x).alias("cxy"),
        F.var_pop(x).alias("vx"),
        F.corr(y, x).alias("r"),
        *(
            [
                F.count(F.when(pre, 1)).alias("n1"),
                F.avg(F.when(pre, y)).alias("m1"),
                F.var_samp(F.when(pre, y)).alias("v1"),
                F.count(F.when(~pre, 1)).alias("n2"),
                F.avg(F.when(~pre, y)).alias("m2"),
                F.var_samp(F.when(~pre, y)).alias("v2"),
            ]
            if split is not None
            else []
        ),
    )
    # try_divide throughout: zero-variance/zero-count degenerate splits
    # yield NULL stats, not an ANSI DIVIDE_BY_ZERO job failure
    beta = F.try_divide(F.col("cxy"), F.col("vx"))
    alpha = F.col("my") - beta * F.col("mx")
    resid_sd = F.sqrt(F.col("vy") * (1 - F.col("r") * F.col("r")))
    out = [
        F.col("n").cast("long").alias("n"),
        (F.lit(mult) * F.col("my")).alias("excess"),
        (F.sqrt(F.lit(mult)) * F.try_divide(F.col("my"), F.col("sy"))).alias(
            "sharpe"
        ),
        (F.lit(mult) * alpha).alias("alpha"),
        beta.alias("beta"),
        (F.sqrt(F.lit(mult)) * F.try_divide(alpha, resid_sd)).alias("appraisal"),
    ]
    if split is not None:
        se = F.sqrt(
            F.try_divide(F.col("v1"), F.col("n1"))
            + F.try_divide(F.col("v2"), F.col("n2"))
        )
        t = F.try_divide(F.col("m2") - F.col("m1"), se)
        # two-sided p under the normal approximation: erfc(|t|/sqrt(2))
        p = 1.0 - _erf_approx(F.abs(t) / F.lit(math.sqrt(2.0)))
        out += [t.alias("welch_t"), p.alias("welch_p")]
    return agg.select(*out)
