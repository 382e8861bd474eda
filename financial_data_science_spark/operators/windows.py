"""Ordered-window operators: ffill, islands, running stats, change compression.

Reference semantics:
  - forward-fill (W7): readers/taq.py:461,485,556; readers/real_time.py:88-89.
  - gaps-and-islands / recession spans (A13): readers/alfred.py:244-259
    ``date_spans`` — boolean run-length grouping via shift+cumsum.
  - running cumsum / max drawdown (W4): backtesting/eventstudy.py:120-122,
    recipes/finance.py:286-307.
  - reverse cumulative product (W5): readers/real_time.py:71-80 (split
    back-adjustment).
  - change-only compression (W9): readers/taq.py:379.
  - per-group sequence / cumcount (W6): readers/real_time.py:337-338.

All are single-window (one shuffle on the partition keys, sort within
partition); none materialize intermediate frames.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

#: The keys=None arm of every operator below runs its window over ONE
#: partition — right for driver-altitude single-series frames (a macro
#: series, a calendar, per-chunk totals), lethal if a caller hands it a
#: data-path frame at cluster scale.  Rather than let that happen
#: silently (r7 verdict: nothing stopped keys=None on a 100 TB frame),
#: the guard below fails the job the moment such a frame exceeds this
#: many rows, with a message naming the fix.  Module-level so tests and
#: informed callers can retune.
UNPARTITIONED_WINDOW_MAX_ROWS = 10_000_000


def tiny_ordered_window(*order) -> WindowSpec:
    """Globally-ordered window for frames that are BOUNDED BY
    CONSTRUCTION (a dims table, per-block totals, post-agg monthlies)
    or guarded by :func:`_guard`: partitioning by a constant is
    semantically identical to no partition spec (Catalyst folds the
    literal away — the physical plan is the same SinglePartition
    exchange) but declares the collapse as intentional and gives the
    audit one grep-able choke point.  The log-noise side is handled in
    session.get_spark, which drops the per-plan `WindowExec: No
    Partition Defined` warning to ERROR now that every data-path arm
    fails fast via the guard instead."""
    return Window.partitionBy(F.lit(0)).orderBy(*order)


def _guard(expr: Column, order: list) -> Column:
    """Fail-fast wrapper for keys=None window expressions: raises from
    the executor (same `assert_true` pattern as ewma's overflow bound)
    once the global ordering exceeds UNPARTITIONED_WINDOW_MAX_ROWS.
    row_number shares the operator's own window spec, so Catalyst folds
    it into the existing WindowExec — no extra pass."""
    rn = F.row_number().over(tiny_ordered_window(*order))
    ok = F.assert_true(
        rn <= F.lit(UNPARTITIONED_WINDOW_MAX_ROWS),
        F.lit(
            "unpartitioned window over more than "
            f"{UNPARTITIONED_WINDOW_MAX_ROWS} rows: keys=None moves the "
            "whole frame to one task.  Pass partition keys, or use the "
            "two-phase global_cumsum pattern (operators/windows.py) for "
            "global running aggregates."
        ),
    )
    return F.when(ok.isNull(), expr)


def _w(keys: list[str] | str | None, order: list[str] | str) -> WindowSpec:
    order = [order] if isinstance(order, str) else list(order)
    if keys:
        keys = [keys] if isinstance(keys, str) else list(keys)
        return Window.partitionBy(*keys).orderBy(*order)
    return tiny_ordered_window(*order)


def ffill(
    df: DataFrame,
    cols: list[str] | str,
    order: list[str] | str,
    keys: list[str] | str | None = None,
) -> DataFrame:
    """Forward-fill nulls in ``cols`` along ``order`` within ``keys`` (W7)."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    w = _w(keys, order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled = [F.last(F.col(c), ignorenulls=True).over(w) for c in cols]
    if not keys:
        filled[0] = _guard(filled[0], [order] if isinstance(order, str) else order)
    return df.select(
        *[c for c in df.columns if c not in cols],
        *[e.alias(c) for e, c in zip(filled, cols)],
    )


def running(
    df: DataFrame,
    exprs: dict[str, Column],
    order: list[str] | str,
    keys: list[str] | str | None = None,
) -> DataFrame:
    """Attach running aggregates (cumsum/cummax/...) along ``order`` (W4).

    ``exprs`` maps output name -> aggregate Column (e.g. ``F.sum('x')``);
    each is evaluated over rows unbounded-preceding..current.
    """
    w = _w(keys, order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    order_l = [order] if isinstance(order, str) else list(order)
    out = df
    for i, (name, expr) in enumerate(exprs.items()):
        e = expr.over(w)
        if i == 0 and not keys:
            e = _guard(e, order_l)
        out = out.withColumn(name, e)
    return out


def cumcount(
    df: DataFrame, keys: list[str] | str, order: list[str] | str, out: str = "seq"
) -> DataFrame:
    """0-based per-group sequence (W6, real_time.py:337-338)."""
    return df.withColumn(out, F.row_number().over(_w(keys, order)) - 1)


def islands(
    df: DataFrame,
    flag: Column | str,
    order: list[str] | str,
    keys: list[str] | str | None = None,
    island_col: str = "island",
) -> DataFrame:
    """Run-length island ids over a boolean flag (A13, alfred.py:244-259).

    island id increments whenever the flag changes along ``order``; filter
    on the flag afterwards and groupBy(island) for span min/max.
    """
    f = F.col(flag) if isinstance(flag, str) else flag
    w = _w(keys, order)
    changed = (
        F.when(F.lag(f).over(w).isNull() | (F.lag(f).over(w) != f), 1).otherwise(0)
    )
    run = F.sum(changed).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if not keys:
        run = _guard(run, [order] if isinstance(order, str) else list(order))
    return df.withColumn(island_col, run)


def sessionize(
    df: DataFrame,
    ts_col: str,
    gap: str | int,
    keys: list[str] | str | None = None,
    session_col: str = "session_id",
) -> DataFrame:
    """Session ids: a new session starts when the gap to the previous event
    exceeds ``gap`` (seconds if the ts column is a timestamp, else same
    units as the column).  Batch analogue of ``F.session_window`` (§2.9).
    """
    w = _w(keys, ts_col)
    prev = F.lag(F.col(ts_col)).over(w)
    delta = F.col(ts_col).cast("double") - prev.cast("double")
    new_sess = F.when(prev.isNull() | (delta > F.lit(float(gap))), 1).otherwise(0)
    sid = F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if not keys:
        sid = _guard(sid, [ts_col])
    return df.withColumn(session_col, sid)


def drop_unchanged(
    df: DataFrame,
    watch: list[str],
    order: list[str] | str,
    keys: list[str] | str | None = None,
) -> DataFrame:
    """Keep only rows where any watched column differs from the previous row
    (W9, taq.py:379).  First row per group always kept.
    """
    w = _w(keys, order)
    cur = F.struct(*[F.col(c) for c in watch])
    prev = F.lag(cur).over(w)
    if not keys:
        prev = _guard(prev, [order] if isinstance(order, str) else list(order))
    return (
        df.withColumn("__prev__", prev)
        .filter(F.col("__prev__").isNull() | (F.col("__prev__") != cur))
        .drop("__prev__")
    )


def reverse_cumprod(
    df: DataFrame,
    col: str,
    order: list[str] | str,
    keys: list[str] | str | None = None,
    out: str = "cumfactor",
) -> DataFrame:
    """Reversed cumulative product (W5, real_time.py:71-80): product of
    ``col`` over all *later* rows (exclusive), e.g. split back-adjustment
    factors.  Implemented as product over a descending-ordered window.
    """
    order = [order] if isinstance(order, str) else list(order)
    keys_l = [keys] if isinstance(keys, str) else list(keys or [])
    w = (
        Window.partitionBy(*keys_l).orderBy(*[F.col(c).desc() for c in order])
        if keys_l
        else tiny_ordered_window(*[F.col(c).desc() for c in order])
    ).rowsBetween(Window.unboundedPreceding, -1)
    prod = F.coalesce(F.product(F.col(col)).over(w), F.lit(1.0))
    if not keys_l:
        prod = _guard(prod, [F.col(c).desc() for c in order])
    return df.withColumn(out, prod)


def ewma(
    df: DataFrame,
    keys: list[str] | str | None,
    order: list[str] | str,
    col: str,
    alpha: float,
    adjust: bool = True,
    out: str = "ewma",
    on_overflow: str = "error",
) -> DataFrame:
    """Exponentially-weighted moving average per group, pandas `ewm`
    semantics (the reference pairs finance.halflife with pandas ewm in
    its RiskMetrics workflows).

    Expressed as pure window cumsums — NO per-group pandas UDF.  With
    lam = 1-alpha and j the 0-based row index rebased to the group's
    first non-null observation (pandas seeds there, not at row 0):
      adjust=True:  y_t = cumsum(x_j lam^-j) / cumsum(lam^-j)
      adjust=False: y_t = lam^t * cumsum(j=0 ? x_0 : alpha x_j lam^-j),
                    carried forward (unchanged) over null rows
    One shuffle on the group key; stays in whole-stage codegen.

    Null semantics vs pandas (ignore_na=False): adjust=True is exact for
    any null pattern (leading, internal — weights decay over gaps and the
    ratio renormalizes).  adjust=False is exact for leading nulls and
    null-free series; over INTERNAL gaps pandas renormalizes by
    (lam^(g+1)+alpha) at re-entry while this closed form does not — that
    renormalization is a per-gap nonlinear step no single window cumsum
    expresses (streaming.stateful.stream_ewma implements it exactly).

    Numerical bound: lam^-j overflows double past j ~ 700/-ln(lam)
    (e.g. ~11,300 rows at alpha=0.06, ~6,600 at 0.10).  ``on_overflow``
    picks the failure mode: "error" (default) raises loudly from the
    executor the moment any group exceeds the bound, "null" nulls those
    rows, "ignore" keeps the raw Inf/NaN arithmetic.
    """
    import math

    keys_l = [keys] if isinstance(keys, str) else list(keys or [])
    order_l = [order] if isinstance(order, str) else list(order)
    lam = 1.0 - alpha
    wo = (
        Window.partitionBy(*keys_l).orderBy(*order_l)
        if keys_l
        else tiny_ordered_window(*order_l)
    )
    wc = wo.rowsBetween(Window.unboundedPreceding, 0)
    wall = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    x = F.col(col).cast("double")
    obs = x.isNotNull() & ~F.isnan(x)  # pandas: NaN == missing, not a value
    idx = F.row_number().over(wo) - 1
    if not keys_l:
        idx = _guard(idx, order_l)
    d = df.withColumn("__i__", idx)
    if lam <= 0.0:  # alpha == 1: y_t is just the last non-null x
        y = F.last(F.when(obs, x), ignorenulls=True).over(wc)
        return d.withColumn(out, y).drop("__i__")
    i0 = F.min(F.when(obs, F.col("__i__"))).over(wall)
    d = d.withColumn("__j__", F.col("__i__") - i0)
    j = F.col("__j__")
    lam_neg_j = F.pow(F.lit(lam), -j)
    if adjust:
        num = F.sum(F.when(obs, x * lam_neg_j)).over(wc)
        den = F.sum(F.when(obs, lam_neg_j)).over(wc)
        y = num / den
    else:
        cs = F.sum(
            F.when(obs & (j == 0), x)
            .when(obs, F.lit(alpha) * x * lam_neg_j)
        ).over(wc)
        y_at_obs = F.when(obs, F.pow(F.lit(lam), j) * cs)
        y = F.last(y_at_obs, ignorenulls=True).over(wc)
    if on_overflow != "ignore":
        safe = int(700.0 / -math.log(lam))
        in_bound = F.coalesce(j, F.lit(0)) <= F.lit(safe)
        if on_overflow == "error":
            msg = (
                f"ewma: group exceeds the {safe}-row double-precision "
                f"bound for alpha={alpha}; pass on_overflow='null' to "
                "null the rows past it"
            )
            y = F.when(F.assert_true(in_bound, F.lit(msg)).isNull(), y)
        else:  # "null"
            y = F.when(in_bound, y)
    return d.withColumn(out, y).drop("__i__", "__j__")


def max_drawdown_window(
    df: DataFrame,
    keys: list[str] | str | None,
    order: str,
    ret_col: str,
) -> DataFrame:
    """Maximum-drawdown window per group (reference finance.py:285-307
    maximum_drawdown): the (peak date, trough date) pair with levels and
    MDD = trough/peak - 1, from the log-compounded return path.

    Trough = argmax of (running max - running cumsum of log(1+r)), ties
    to the earliest date (pandas idxmax); peak = argmax of the cumsum at
    or before the trough.  Two ordered-window passes + one broadcast-able
    per-key join — no driver iteration.  Cumsums are rounded to 9dp
    before the argmax comparisons so cross-engine log/sum ulp noise can't
    flip a tie.
    """
    keys_l = [keys] if isinstance(keys, str) else list(keys or [])
    wo = (
        Window.partitionBy(*keys_l).orderBy(order)
        if keys_l
        else tiny_ordered_window(order)
    ).rowsBetween(Window.unboundedPreceding, 0)
    cum = F.round(F.sum(F.log1p(ret_col)).over(wo), 9)
    if not keys_l:
        cum = _guard(cum, [order])
    d = df.withColumn("__cum__", cum)
    d = d.withColumn("__peakcum__", F.max("__cum__").over(wo))
    d = d.withColumn("__dd__", F.round(F.col("__peakcum__") - F.col("__cum__"), 9))
    gb = d.groupBy(*keys_l) if keys_l else d.groupBy()
    end = gb.agg(
        F.min_by(
            F.struct(F.col(order).alias("end_date"),
                     F.col("__cum__").alias("end_cum")),
            F.struct(-F.col("__dd__"), F.col(order)),
        ).alias("__e__")
    ).select(*keys_l, "__e__.end_date", "__e__.end_cum")
    j = d.join(F.broadcast(end), keys_l) if keys_l else d.crossJoin(F.broadcast(end))
    pre = j.filter(F.col(order) <= F.col("end_date"))
    gb2 = pre.groupBy(*keys_l) if keys_l else pre.groupBy()
    out = gb2.agg(
        F.min_by(
            F.struct(F.col(order).alias("beg_date"),
                     F.col("__cum__").alias("beg_cum")),
            F.struct(-F.col("__cum__"), F.col(order)),
        ).alias("__b__"),
        F.first("end_date").alias("end_date"),
        F.first("end_cum").alias("end_cum"),
    )
    return out.select(
        *keys_l,
        F.col("__b__.beg_date").alias("peak_date"),
        F.col("end_date").alias("trough_date"),
        F.exp("__b__.beg_cum").alias("peak_level"),
        F.exp("end_cum").alias("trough_level"),
        (F.exp(F.col("end_cum") - F.col("__b__.beg_cum")) - 1).alias("mdd"),
    )


def global_cumsum(
    df: DataFrame,
    order: list[str] | str,
    col: str,
    out: str = "cumsum",
    num_blocks: int = 32,
) -> DataFrame:
    """Running sum over a GLOBAL ordering without the single-partition
    window trap.

    ``Window.orderBy`` with no partition keys moves every row to one
    task — correct at test scale, dead at 100 TB.  This is the classic
    two-phase distributed scan: rows are assigned to ordered blocks, a
    per-block window computes the local cumsum (ONE full-data shuffle,
    on the block id), and each block's offset = cumsum over the tiny
    per-block totals frame (num_blocks rows), broadcast-joined back.

    Block assignment: for a single numeric order key, block boundaries
    come from ``approxQuantile`` (one cheap aggregate pass) and the
    block id is a map-side searchsorted over the broadcast boundary
    literals — no range repartition, so the only full-data exchange is
    the window's.  Otherwise falls back to ``repartitionByRange`` +
    ``spark_partition_id`` (two full-data exchanges).  Output values
    are block-boundary-independent; pass a UNIQUE ordering (ties make
    the running sum inside a tie ambiguous; the rows after it stay
    exact).
    """
    order_l = [order] if isinstance(order, str) else list(order)
    numeric = {"int", "bigint", "smallint", "tinyint", "float", "double"}
    if (
        len(order_l) == 1
        and df.schema[order_l[0]].dataType.simpleString() in numeric
        and num_blocks > 1
    ):
        qs = df.approxQuantile(
            order_l[0],
            [i / num_blocks for i in range(1, num_blocks)],
            0.001,
        )
        bounds = sorted(set(qs))
        key = F.col(order_l[0])
        blk = F.lit(0)
        for b in bounds:
            blk = blk + F.when(key > F.lit(b), 1).otherwise(0)
        d = df.withColumn("__blk__", blk)
    else:
        d = df.repartitionByRange(
            num_blocks, *[F.col(c) for c in order_l]
        ).withColumn("__blk__", F.spark_partition_id())
    wl = Window.partitionBy("__blk__").orderBy(*order_l).rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = d.withColumn(out, F.sum(F.col(col)).over(wl))
    # block totals = a whole-block window sum of `col` over d.  Not the
    # last row's local cumsum: under tied order keys the last row is
    # ambiguous.  Not a groupBy(d) sum: its partial aggregate sits UNDER
    # its exchange, so that exchange never canonicalizes equal to the
    # window's and the input lineage runs twice per action (a sum over
    # `local` plans the same: the unused cumsum window is pruned).  The
    # same partition and order keep the exchange identical, so both
    # consumers share it (ReusedExchange).  Exact for the integer
    # columns every caller sums.
    wblk = wl.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    totals = (
        d.withColumn("__tot__", F.sum(F.col(col)).over(wblk))
        .groupBy("__blk__")
        .agg(F.max("__tot__").alias("__tot__"))
    )
    # bounded by construction: num_blocks rows
    woff = tiny_ordered_window("__blk__").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "__off__", F.coalesce(F.sum("__tot__").over(woff), F.lit(0))
    ).drop("__tot__")
    local = local.join(F.broadcast(offsets), "__blk__")
    return local.withColumn(out, F.col(out) + F.col("__off__")).drop(
        "__blk__", "__off__"
    )
