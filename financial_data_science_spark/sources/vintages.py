"""Vintage / point-in-time series selection (reference ALFRED layer).

Reference: finds/readers/alfred.py:334-406 ``construct_series`` — given
observations keyed (series_id, date) with realtime_start vintages, select
per observation: the latest release, the k-th release, or the release
prevailing as of an offset date.  All are W1/W2 window selections.

Plus the tcode transform pipeline (alfred.py:205-242): difference/log/
pct-change chains as composable window expressions (W3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from financial_data_science_spark.operators import keep_extremum


def latest_release(
    obs: DataFrame,
    keys: list[str] | str = "series_id",
    date_col: str = "date",
    vintage_col: str = "realtime_start",
) -> DataFrame:
    """Most-revised value per (series, date) — keep max vintage (W1,
    the latest-release case of alfred.py:334-406 construct_series)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    return keep_extremum(obs, keys + [date_col], vintage_col, keep="last")


def kth_release(
    obs: DataFrame,
    k: int,
    keys: list[str] | str = "series_id",
    date_col: str = "date",
    vintage_col: str = "realtime_start",
) -> DataFrame:
    """k-th release per observation (k=0 first print, alfred.py:388-393)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    w = Window.partitionBy(*keys, date_col).orderBy(vintage_col)
    return (
        obs.withColumn("__rn__", F.row_number().over(w) - 1)
        .filter(F.col("__rn__") == k)
        .drop("__rn__")
    )


def asof_release(
    obs: DataFrame,
    vintage: int,
    keys: list[str] | str = "series_id",
    date_col: str = "date",
    vintage_col: str = "realtime_start",
) -> DataFrame:
    """Release prevailing as of a vintage date (alfred.py:394-398):
    the series exactly as an analyst saw it then."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    filtered = obs.filter(F.col(vintage_col) <= F.lit(vintage))
    return keep_extremum(filtered, keys + [date_col], vintage_col, keep="last")


# tcode transforms (alfred.py:162-242): 1 level, 2 diff, 3 diff2, 4 log,
# 5 dlog, 6 d2log, 7 pct-change diff
def apply_tcode(
    df: DataFrame,
    tcode: int,
    value_col: str = "value",
    order: str = "date",
    keys: list[str] | str = "series_id",
    out: str = "value_t",
) -> DataFrame:
    """Degenerate inputs yield NULL, not inf/error: pct-change over a zero
    level uses try_divide (pandas emits inf there; under ANSI SQL the
    plain division THROWS, and a single bad observation must not kill a
    100 TB job), and log transforms guard v > 0 (pandas -inf at 0, domain
    error below).  NULL is the SQL-portable encoding of 'transform
    undefined here' — the DuckDB oracle replays the same guards."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    w = Window.partitionBy(*keys).orderBy(order)
    v = F.col(value_col)
    lag1 = F.lag(v).over(w)
    lag2 = F.lag(v, 2).over(w)
    lg = F.when(v > 0, F.log(v))
    lg1 = F.when(lag1 > 0, F.log(lag1))
    lg2 = F.when(lag2 > 0, F.log(lag2))
    if tcode == 7:
        expr: Column = (F.try_divide(v, lag1) - 1) - (F.try_divide(lag1, lag2) - 1)
    else:
        exprs = {
            1: v,
            2: v - lag1,
            3: v - 2 * lag1 + lag2,
            4: lg,
            5: lg - lg1,
            6: lg - 2 * lg1 + lg2,
        }
        expr = exprs[tcode]
    return df.withColumn(out, expr)


def date_spans(
    df: DataFrame,
    flag: Column | str,
    date_col: str = "date",
    keys: list[str] | str | None = None,
) -> DataFrame:
    """A13: contiguous flagged spans -> (beg, end) rows (alfred.py:244-259
    recession islands) via the islands operator."""
    from financial_data_science_spark.operators import islands

    isl = islands(df, flag, order=date_col, keys=keys)
    f = F.col(flag) if isinstance(flag, str) else flag
    grp_keys = ([keys] if isinstance(keys, str) else list(keys or [])) + ["island"]
    return (
        isl.filter(f)
        .groupBy(*grp_keys)
        .agg(F.min(date_col).alias("beg"), F.max(date_col).alias("end"))
        .drop("island")
    )
