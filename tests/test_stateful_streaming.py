"""applyInPandasWithState parity (SURVEY §2.9 row 2): quote state carried
between ticks across micro-batches must reproduce the batch lead() oracle."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_science_spark.sources.testdata import load_table
from financial_data_science_spark.streaming.stateful import close_ticks

SF = "/root/testdata/sf0.001"

TICK_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def test_close_ticks_parity_across_batches(spark, tmp_path):
    ticks = (
        load_table(spark, SF, "events")
        .select(
            F.col("user_id").cast("string").alias("key"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.col("value").cast("double").alias("value"),
        )
    )
    pdf = ticks.toPandas().sort_values("ts_us").reset_index(drop=True)
    # two time-ordered files => two micro-batches; state must bridge them
    cut = len(pdf) // 2
    d = str(tmp_path / "ticks")
    os.makedirs(d)
    f0, f1 = f"{d}/b0.parquet", f"{d}/b1.parquet"
    spark.createDataFrame(pdf.iloc[:cut], TICK_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f0)
    spark.createDataFrame(pdf.iloc[cut:], TICK_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f1)
    now = 1_700_000_000
    os.utime(f0, (now, now))
    os.utime(f1, (now + 100, now + 100))

    stream = (
        spark.readStream.schema(TICK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(f"{d}/*.parquet")
    )
    closed = close_ticks(stream)
    q = (
        closed.writeStream.outputMode("append")
        .format("memory")
        .queryName("closed_ticks")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (
        spark.sql("SELECT * FROM closed_ticks")
        .toPandas()
        .sort_values(["key", "ts_us"])
        .reset_index(drop=True)
    )

    want = (
        ticks.withColumn(
            "dur_us",
            F.lead("ts_us").over(Window.partitionBy("key").orderBy("ts_us"))
            - F.col("ts_us"),
        )
        .filter(F.col("dur_us").isNotNull())
        .toPandas()
        .sort_values(["key", "ts_us"])
        .reset_index(drop=True)
    )
    # every closed tick except each key's last-in-stream must appear
    assert len(got) == len(want), (len(got), len(want))
    pd.testing.assert_frame_equal(
        got[["key", "ts_us", "value", "dur_us"]],
        want[["key", "ts_us", "value", "dur_us"]],
        check_dtype=False,
    )


def test_stream_stream_range_join_parity(spark):
    from financial_data_science_spark.streaming.stateful import (
        stream_align_candidates,
    )
    from financial_data_science_spark.streaming.windows import (
        read_events_stream,
        run_stream_to_memory,
    )

    stream = read_events_stream(spark, SF)
    trades_s = stream.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("key"), "ts", "value"
    )
    quotes_s = stream.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("key"), "ts", "value"
    )
    out = stream_align_candidates(trades_s, quotes_s, horizon="10 minutes")
    got = (
        run_stream_to_memory(spark, out, "ss_join")
        .toPandas()
        .sort_values(["key", "trade_ts", "quote_ts"])
        .reset_index(drop=True)
    )

    ev = load_table(spark, SF, "events")
    t = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("trade_ts"),
        F.col("value").alias("trade_value"),
    )
    q = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("qkey"),
        F.col("ts").alias("quote_ts"),
        F.col("value").alias("quote_value"),
    )
    want = (
        t.join(
            q,
            (F.col("key") == F.col("qkey"))
            & (F.col("quote_ts") >= F.col("trade_ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("quote_ts") <= F.col("trade_ts")),
        )
        .drop("qkey")
        .toPandas()
        .sort_values(["key", "trade_ts", "quote_ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)


def test_stream_ewma_parity_across_batches(spark, tmp_path):
    from financial_data_science_spark.operators.windows import ewma as batch_ewma
    from financial_data_science_spark.streaming.stateful import stream_ewma
    from financial_data_science_spark.streaming.windows import (
        run_stream_to_memory,
    )

    ticks = load_table(spark, SF, "events").select(
        F.col("user_id").cast("string").alias("key"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("value").cast("double").alias("value"),
    )
    pdf = ticks.toPandas().sort_values("ts_us").reset_index(drop=True)
    cut = len(pdf) // 2
    d = str(tmp_path / "ewma_ticks")
    os.makedirs(d)
    f0, f1 = f"{d}/b0.parquet", f"{d}/b1.parquet"
    spark.createDataFrame(pdf.iloc[:cut], TICK_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f0)
    spark.createDataFrame(pdf.iloc[cut:], TICK_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f1)
    now = 1_700_000_000
    os.utime(f0, (now, now))
    os.utime(f1, (now + 100, now + 100))

    stream = (
        spark.readStream.schema(TICK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(f"{d}/*.parquet")
    )
    for adjust in (True, False):
        got = (
            run_stream_to_memory(
                spark, stream_ewma(stream, alpha=0.1, adjust=adjust),
                f"ewma_parity_{adjust}",
            )
            .toPandas()
            .sort_values(["key", "ts_us"])
            .reset_index(drop=True)
        )
        want = (
            batch_ewma(
                spark.createDataFrame(pdf, TICK_SCHEMA),
                "key", "ts_us", "value", alpha=0.1, adjust=adjust,
            )
            .toPandas()
            .sort_values(["key", "ts_us"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want)
        pd.testing.assert_series_equal(
            got["ewma"], want["ewma"], check_names=False, atol=1e-9, rtol=1e-9
        )


def test_stream_ewma_recursion_matches_pandas_with_nans():
    """The carried recursion itself (no Spark needed) vs pandas ewm with
    leading AND internal NaN, both adjust modes, ignore_na=False —
    including the adjust=False gap renormalization the batch closed form
    documents as inexpressible."""
    import numpy as np

    from financial_data_science_spark.streaming.stateful import _make_ewma_fn

    class FakeState:
        exists = False

        def update(self, v):
            self.exists, self._v = True, v

        @property
        def get(self):
            return self._v

    x = [np.nan, np.nan, 2.0, 3.0, np.nan, np.nan, 5.0, 1.0, np.nan, 4.0]
    s = pd.Series(x)
    for adjust in (True, False):
        want = s.ewm(alpha=0.3, adjust=adjust, ignore_na=False).mean()
        fn = _make_ewma_fn(0.3, adjust)
        state = FakeState()
        # feed in two chunks to exercise the carried state
        outs = []
        for lo, hi in ((0, 6), (6, 10)):
            pdf = pd.DataFrame(
                {"ts_us": range(lo, hi), "value": x[lo:hi]}
            )
            outs.append(next(fn(("k",), iter([pdf]), state)))
        got = pd.concat(outs, ignore_index=True)["ewma"].to_numpy()
        assert np.allclose(got, want.to_numpy(), atol=1e-12, equal_nan=True), adjust
