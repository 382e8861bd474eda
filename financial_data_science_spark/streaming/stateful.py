"""Custom stateful streaming operators (SURVEY §2.9).

The reference carries quote state between ticks inside a per-symbol pandas
loop (readers/taq.py:460-474: forward-duration weights need the *next*
tick's timestamp before a row can contribute to a time-weighted bin).  In
Structured Streaming that per-key carried state is exactly
``applyInPandasWithState``: state lives in the state store keyed by
symbol, survives across micro-batches, and scales horizontally because
keys are hash-partitioned across executors.

``close_ticks`` is the streaming form: each arriving tick CLOSES the
previous tick of its key, emitting (key, ts, value, dur) where ``dur`` is
the forward duration — after which a plain windowed aggregation computes
time-weighted bins.  Batch parity: ``lead(ts) over (partition key order
ts) - ts`` (the tw_value_5min catalog query).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

CLOSED_TICK_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("ts_us", LongType()),
        StructField("value", DoubleType()),
        StructField("dur_us", LongType()),
    ]
)

# state: the still-open last tick of the key
_STATE_SCHEMA = StructType(
    [StructField("ts_us", LongType()), StructField("value", DoubleType())]
)


def _close_ticks_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts_us")
    if state.exists:
        last_ts, last_val = state.get
    else:
        last_ts, last_val = None, None
    out_ts, out_val, out_dur = [], [], []
    for ts, val in zip(rows["ts_us"], rows["value"]):
        if last_ts is not None:
            out_ts.append(last_ts)
            out_val.append(last_val)
            out_dur.append(int(ts) - int(last_ts))
        last_ts, last_val = int(ts), float(val)
    state.update((last_ts, last_val))
    yield pd.DataFrame(
        {
            "key": [key[0]] * len(out_ts),
            "ts_us": out_ts,
            "value": out_val,
            "dur_us": out_dur,
        }
    )


def close_ticks(
    ticks: DataFrame, key_col: str = "key", ts_col: str = "ts_us",
    value_col: str = "value",
) -> DataFrame:
    """Streaming forward-duration closure: emit each tick once its
    successor arrives, with the forward duration attached (the quote
    state the reference carries between ticks, taq.py:460-474).

    ``ticks`` is a streaming DataFrame with (key string, ts_us long,
    value double).  State per key = the still-open last tick; memory is
    O(keys), not O(ticks).  Late rows *within* a micro-batch are handled
    by the per-batch sort; cross-batch late rows are the watermark's job
    upstream (taq.py sorts on (Time, Sequence_Number) for the same
    reason).
    """
    from pyspark.sql import functions as F

    src = ticks.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).cast("long").alias("ts_us"),
        F.col(value_col).cast("double").alias("value"),
    )
    return src.groupBy("key").applyInPandasWithState(
        _close_ticks_fn,
        outputStructType=CLOSED_TICK_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_align_candidates(
    trades: "DataFrame",
    quotes: "DataFrame",
    key: str = "key",
    horizon: str = "10 minutes",
    watermark: str = "2 minutes",
) -> "DataFrame":
    """Stream-stream trade x quote range join (SURVEY §2.9 row 3): each
    trade pairs with every quote of its key in [t - horizon, t].

    Both sides are watermarked so the join state is bounded: a quote can be
    dropped once the watermark passes its ts + horizon; Spark derives that
    retention from the range condition (taq.py:406-411's interleaved
    prevailing-quote scan, minus the argmax — downstream aggregation picks
    the prevailing one, or close_ticks supplies exact as-of semantics).
    Emits (key, trade_ts, trade_value, quote_ts, quote_value).
    """
    from pyspark.sql import functions as F

    t = (
        trades.select(
            F.col(key).alias("key"),
            F.col("ts").alias("trade_ts"),
            F.col("value").alias("trade_value"),
        ).withWatermark("trade_ts", watermark)
    )
    q = (
        quotes.select(
            F.col(key).alias("qkey"),
            F.col("ts").alias("quote_ts"),
            F.col("value").alias("quote_value"),
        ).withWatermark("quote_ts", watermark)
    )
    return t.join(
        q,
        F.expr(
            f"key = qkey AND quote_ts >= trade_ts - INTERVAL {horizon}"
            " AND quote_ts <= trade_ts"
        ),
        "inner",
    ).drop("qkey")


EWMA_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("ts_us", LongType()),
        StructField("value", DoubleType()),
        StructField("ewma", DoubleType()),
    ]
)

# state: recursion carriers — (num, den) for adjust=True where
# y = num/den, num <- lam*num + x, den <- lam*den + 1 at an observation
# and num <- lam*num, den <- lam*den over a NaN row (position-based
# decay, pandas ignore_na=False); for adjust=False num IS the running y
# and den is pandas' old_wt (decays by lam each row, renormalizes the
# carried value at the first observation after a gap, then resets to 1)
_EWMA_STATE_SCHEMA = StructType(
    [StructField("num", DoubleType()), StructField("den", DoubleType())]
)


def _ewma_run(
    key: str,
    rows: pd.DataFrame,
    num: float | None,
    den: float,
    alpha: float,
    adjust: bool,
) -> tuple[list[tuple], float | None, float]:
    """The per-key EWMA recursion: fold sorted (ts_us, value) rows
    through the two-double carry, returning output rows + new carry.
    The state function of :func:`stream_ewma` (``_make_ewma_fn``)
    drives it once per key and micro-batch."""
    lam = 1.0 - alpha
    nan = float("nan")
    out = []
    for ts, val in zip(rows["ts_us"], rows["value"]):
        x = float(val) if val is not None else nan
        obs = x == x  # not NaN; NaN rows carry, decaying weights
        if adjust:
            if obs:
                num = x if num is None else lam * num + x
                den = lam * den + 1.0
            elif num is not None:
                num, den = lam * num, lam * den
            y = nan if num is None else num / den
        else:
            if num is None:  # pandas seeds at the FIRST NON-NULL: y=x
                if obs:
                    num, den = x, 1.0
            else:
                den *= lam
                if obs:
                    num = (den * num + alpha * x) / (den + alpha)
                    den = 1.0
            y = nan if num is None else num
        out.append((key, int(ts), x, y))
    return out, num, den


def _make_ewma_fn(alpha: float, adjust: bool):
    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts_us")
        if state.exists:
            num, den = state.get
        else:
            num, den = None, 0.0
        out, num, den = _ewma_run(key[0], rows, num, den, alpha, adjust)
        state.update((num, den))
        yield pd.DataFrame(out, columns=["key", "ts_us", "value", "ewma"])

    return fn


def stream_ewma(
    ticks: DataFrame,
    alpha: float,
    adjust: bool = True,
    key_col: str = "key",
    ts_col: str = "ts_us",
    value_col: str = "value",
) -> DataFrame:
    """Streaming EWMA per key — the recursive form of
    operators.windows.ewma, pandas-ewm semantics for both adjust modes.

    The recursion y_t = f(y_{t-1}, x_t) is exactly the carried-state
    shape: two doubles per key in the state store
    (``applyInPandasWithState``), O(keys) memory, horizontally
    partitioned.  Unlike the batch window's lam^-j cumsum identity, the
    recursion never exponentiates, so there is no series-length bound.

    Null handling is EXACT pandas (ignore_na=False) in both modes,
    including the adjust=False gap renormalization that the batch closed
    form cannot express (see operators.windows.ewma docstring): NaN rows
    emit the carried value while weights decay; the recursion seeds at
    the first non-NaN observation.  Batch parity (vs
    operators.windows.ewma) is the test oracle on gap-free series;
    pandas itself is the oracle for the null cases.
    """
    from pyspark.sql import functions as F

    src = ticks.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).cast("long").alias("ts_us"),
        F.col(value_col).cast("double").alias("value"),
    )
    return src.groupBy("key").applyInPandasWithState(
        _make_ewma_fn(alpha, adjust),
        outputStructType=EWMA_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
