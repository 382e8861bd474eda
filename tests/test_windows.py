"""Window operators vs pandas oracles (W4-W9, A13)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from financial_data_science_spark.operators import (
    cumcount,
    drop_unchanged,
    ffill,
    islands,
    reverse_cumprod,
    running,
    sessionize,
)


def test_ffill_matches_pandas(spark):
    pdf = pd.DataFrame(
        {
            "k": [1, 1, 1, 1, 2, 2, 2],
            "t": [1, 2, 3, 4, 1, 2, 3],
            "v": [None, 1.0, None, 2.0, None, None, 3.0],
        }
    )
    got = (
        ffill(spark.createDataFrame(pdf), "v", order="t", keys="k")
        .toPandas()
        .sort_values(["k", "t"])["v"]
        .to_numpy()
    )
    want = pdf.sort_values(["k", "t"]).groupby("k")["v"].ffill().to_numpy()
    np.testing.assert_allclose(got, want, equal_nan=True)


def test_islands_run_length(spark):
    pdf = pd.DataFrame(
        {"t": range(10), "flag": [0, 0, 1, 1, 1, 0, 1, 0, 0, 1]}
    )
    out = islands(spark.createDataFrame(pdf), "flag", order="t").toPandas().sort_values("t")
    spans = (
        out[out.flag == 1]
        .groupby("island")["t"]
        .agg(["min", "max"])
        .sort_values("min")
        .to_numpy()
        .tolist()
    )
    assert spans == [[2, 4], [6, 6], [9, 9]]


def test_running_cumsum(spark, daily, daily_pdf):
    out = running(
        daily.select("permno", "date", "ret").fillna(0.0, subset=["ret"]),
        {"cum": F.sum("ret")},
        order="date",
        keys="permno",
    ).toPandas()
    want = (
        daily_pdf.fillna({"ret": 0.0})
        .sort_values(["permno", "date"])
        .groupby("permno")["ret"]
        .cumsum()
    )
    got = out.sort_values(["permno", "date"])["cum"].to_numpy()
    np.testing.assert_allclose(got, want.to_numpy(), rtol=1e-9)


def test_cumcount(spark):
    pdf = pd.DataFrame({"k": [1, 1, 1, 2, 2], "t": [3, 1, 2, 5, 4]})
    out = cumcount(spark.createDataFrame(pdf), "k", "t").toPandas()
    want = pdf.sort_values(["k", "t"]).groupby("k").cumcount()
    got = out.sort_values(["k", "t"])["seq"].to_numpy()
    assert (got == want.to_numpy()).all()


def test_drop_unchanged(spark):
    pdf = pd.DataFrame(
        {"t": range(6), "a": [1, 1, 2, 2, 2, 1], "b": [5, 5, 5, 6, 6, 6]}
    )
    out = drop_unchanged(spark.createDataFrame(pdf), ["a", "b"], order="t").toPandas()
    assert sorted(out["t"].tolist()) == [0, 2, 3, 5]


def test_reverse_cumprod_split_adjustment(spark):
    """Back-adjustment: factor at t = product of split factors AFTER t
    (real_time.py:71-80)."""
    pdf = pd.DataFrame({"t": [1, 2, 3, 4], "facpr": [1.0, 2.0, 1.0, 3.0]})
    out = (
        reverse_cumprod(spark.createDataFrame(pdf), "facpr", order="t")
        .toPandas()
        .sort_values("t")
    )
    assert out["cumfactor"].tolist() == [6.0, 3.0, 3.0, 1.0]


def test_sessionize_gap(spark):
    pdf = pd.DataFrame(
        {
            "k": [1] * 5,
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 10:10", "2024-01-01 11:00",
                 "2024-01-01 11:20", "2024-01-01 13:00"]
            ),
        }
    )
    out = (
        sessionize(spark.createDataFrame(pdf), "ts", 1800, keys="k")
        .toPandas()
        .sort_values("ts")
    )
    assert out["session_id"].tolist() == [1, 1, 2, 2, 3]


def test_ewma_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    from financial_data_science_spark.operators.windows import ewma

    rng = np.random.default_rng(17)
    pdf = pd.DataFrame({
        "g": np.repeat(["a", "b"], 300),
        "t": np.tile(np.arange(300), 2),
        "x": rng.normal(0, 1, 600),
    })
    df = spark.createDataFrame(pdf)
    for adjust in (True, False):
        got = (
            ewma(df, "g", "t", "x", alpha=0.06, adjust=adjust)
            .toPandas().sort_values(["g", "t"])["ewma"].to_numpy()
        )
        want = (
            pdf.sort_values(["g", "t"])
            .groupby("g")["x"]
            .transform(lambda s: s.ewm(alpha=0.06, adjust=adjust).mean())
            .to_numpy()
        )
        assert np.allclose(got, want, atol=1e-10), adjust


def test_ewma_null_seeding_matches_pandas(spark):
    """Leading nulls: pandas seeds adjust=False at the first non-null
    (y=x, not alpha*x); internal nulls carry the value forward.
    adjust=True is exact pandas for any null pattern."""
    import numpy as np
    import pandas as pd

    from financial_data_science_spark.operators.windows import ewma

    pdf = pd.DataFrame({
        "g": ["a"] * 8 + ["b"] * 6,
        "t": list(range(8)) + list(range(6)),
        "x": [None, None, 2.0, 3.0, None, 5.0, 1.0, None,
              None, 4.0, 4.5, 2.5, 3.5, 1.5],
    })
    df = spark.createDataFrame(pdf)
    want_t = (
        pdf.sort_values(["g", "t"]).groupby("g")["x"]
        .transform(lambda s: s.ewm(alpha=0.3, adjust=True).mean()).to_numpy()
    )
    got = (
        ewma(df, "g", "t", "x", alpha=0.3, adjust=True)
        .toPandas().sort_values(["g", "t"])["ewma"].to_numpy()
    )
    assert np.allclose(got, want_t, atol=1e-12, equal_nan=True)
    # adjust=False: exact pandas for leading nulls; internal-gap rows
    # carry (check the seed and the first rows after leading nulls)
    got_f = (
        ewma(df, "g", "t", "x", alpha=0.3, adjust=False)
        .toPandas().sort_values(["g", "t"])["ewma"].to_numpy()
    )
    want_f = (
        pdf.sort_values(["g", "t"]).groupby("g")["x"]
        .transform(lambda s: s.ewm(alpha=0.3, adjust=False).mean()).to_numpy()
    )
    # group b is gap-free after its leading null: exact everywhere
    assert np.allclose(got_f[8:], want_f[8:], atol=1e-12, equal_nan=True)
    # group a: exact at seed and up to the internal gap
    assert np.isnan(got_f[0]) and np.isnan(got_f[1])
    assert np.allclose(got_f[2:4], want_f[2:4], atol=1e-12)


def test_ewma_overflow_guard_raises(spark):
    import numpy as np
    import pandas as pd
    import pytest

    from financial_data_science_spark.operators.windows import ewma

    n = 13_000  # > 700/-ln(0.94) ~ 11.3k
    pdf = pd.DataFrame({"t": np.arange(n), "x": np.ones(n)})
    df = spark.createDataFrame(pdf)
    with pytest.raises(Exception, match="double-precision bound"):
        ewma(df, None, "t", "x", alpha=0.06, on_overflow="error").agg(
            {"ewma": "max"}
        ).collect()
    # "null" mode: no raise, out-of-bound rows nulled
    out = (
        ewma(df, None, "t", "x", alpha=0.06, on_overflow="null")
        .toPandas().sort_values("t")["ewma"]
    )
    assert out.iloc[:100].notna().all() and out.iloc[-1:].isna().all()


def test_max_drawdown_window_vs_pandas(spark):
    import numpy as np
    import pandas as pd
    import pytest

    from financial_data_science_spark.operators.windows import (
        max_drawdown_window,
    )

    rng = np.random.default_rng(23)
    frames = []
    for g in ["a", "b", "c"]:
        r = rng.normal(0, 0.03, 120)
        frames.append(pd.DataFrame({"g": g, "t": np.arange(120), "ret": r}))
    pdf = pd.concat(frames, ignore_index=True)
    got = (
        max_drawdown_window(spark.createDataFrame(pdf), "g", "t", "ret")
        .toPandas().set_index("g").sort_index()
    )
    for g, sub in pdf.groupby("g"):
        x = pd.Series(sub["ret"].values, index=sub["t"].values)
        cumsum = np.log(1 + x).cumsum()
        cummax = cumsum.cummax()
        end = (cummax - cumsum).idxmax()
        beg = cumsum[cumsum.index <= end].idxmax()
        assert got.loc[g, "peak_date"] == beg, g
        assert got.loc[g, "trough_date"] == end, g
        assert got.loc[g, "peak_level"] == pytest.approx(np.exp(cumsum[beg]))
        assert got.loc[g, "trough_level"] == pytest.approx(np.exp(cumsum[end]))
        assert got.loc[g, "mdd"] == pytest.approx(
            np.exp(cumsum[end] - cumsum[beg]) - 1
        )


def test_unpartitioned_window_guard(spark):
    """keys=None operators fail fast (executor assert, not a silent
    single-partition crawl) once the frame exceeds the documented bound,
    and stay exact below it."""
    import pytest

    import financial_data_science_spark.operators.windows as W

    df = spark.range(200).select(
        F.col("id").alias("t"), (F.col("id") % 7).cast("double").alias("x")
    )
    old = W.UNPARTITIONED_WINDOW_MAX_ROWS
    try:
        W.UNPARTITIONED_WINDOW_MAX_ROWS = 100
        with pytest.raises(Exception, match="unpartitioned window"):
            W.running(df, {"cs": F.sum("x")}, order="t").collect()
        with pytest.raises(Exception, match="unpartitioned window"):
            W.sessionize(df, "t", gap=2).collect()
        W.UNPARTITIONED_WINDOW_MAX_ROWS = 100_000
        got = W.running(df, {"cs": F.sum("x")}, order="t").orderBy("t").toPandas()
        want = got["x"].cumsum()
        assert (got["cs"] == want).all()
    finally:
        W.UNPARTITIONED_WINDOW_MAX_ROWS = old


def test_tiny_ordered_window_semantics(spark):
    """The declared-bounded window is semantically identical to a global
    orderBy (Catalyst folds the constant partition key away — same
    SinglePartition plan); the marker is for audit/grep, the protection
    is the _guard assert and the session-level log demotion."""
    from financial_data_science_spark.operators.windows import (
        tiny_ordered_window,
    )

    df = spark.range(50).select(F.col("id").alias("t"))
    out = df.withColumn(
        "rn", F.row_number().over(tiny_ordered_window("t"))
    )
    got = out.orderBy("t").toPandas()
    assert (got["rn"].values == np.arange(1, 51)).all()
