"""Trading-calendar dimension table and offset/date-range operations.

Reference semantics (structured/busday.py):
  - calendar built from trading dates (Fama-French daily dates + NYSE
    holidays) busday.py:52-157.
  - ``offset(date, n)`` — n trading days forward/back busday.py:202-228.
  - ``date_range(beg, end, freq)`` busday.py:230-280; ``begmo/endmo/
    begwk/endwk/endqr/endyr`` busday.py:288-400; ``date_tuples`` holding
    periods busday.py:440-455.

Spark has no trading calendar, so the calendar is a **broadcast dimension
table** ``(date, day_num, week_num, month_num, quarter_num, year_num,
is_*_end/begin flags)`` (~25k rows for a century).  Offsets become two
broadcast joins + integer arithmetic on ``day_num``; period ends are
``max(date) per period_num`` — all set-at-a-time, no driver loops
(SURVEY §2.8 row 1).

The dimension is materialized once, when ``from_dates`` builds it, the
way busday.py builds its calendar once: one job set (the distinct-date
pass over the source frame plus the dim's window stages; 3 jobs and 6
stages on a cached 36k-row panel) runs at construction.  Every method
afterwards is a lazy plan over the materialized rows, so a query that
reads the calendar several times (``date_range`` then ``date_tuples``,
or the three calendar joins of an event study) never re-walks the
source frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from financial_data_science_spark.functions.dates import int_to_date


class TradingCalendar:
    """Wraps the calendar dimension DataFrame.  ``from_dates`` materializes
    the dimension once; every method is a lazy plan over it."""

    def __init__(self, dim: DataFrame):
        self.dim = dim

    @classmethod
    def from_dates(cls, dates: DataFrame, date_col: str = "date") -> "TradingCalendar":
        """Build the dimension from a one-column frame of trading dates —
        int YYYYMMDD (the reference's convention) or native date/timestamp.
        *_end flags mark the last trading date within each
        week/month/quarter/year, exactly the reference's 'last business day
        of period' semantics (busday.py:128-157).

        Eager: the dim is checkpointed here (one job set), so consumers
        read its rows instead of re-running the distinct + six windows
        over ``dates`` in every plan.  The checkpoint keeps the plan's
        size statistics, so the dim stays a broadcast side."""
        d = dates.select(F.col(date_col).alias("date")).distinct()
        dtype = dict(d.dtypes)["date"]
        dt = int_to_date("date") if dtype in ("int", "bigint", "smallint") else F.col("date")
        base = d.select(
            "date",
            (F.year(dt) * 100 + F.month(dt)).cast("long").alias("month_num"),
            (F.year(dt) * 10 + F.quarter(dt)).cast("long").alias("quarter_num"),
            F.year(dt).cast("long").alias("year_num"),
            F.date_trunc("week", dt).alias("__week_start__"),
        )
        # bounded by construction: one row per distinct calendar date
        w = Window.partitionBy(F.lit(0)).orderBy("date")
        flags = base.withColumn(
            "week_num",
            F.dense_rank()
            .over(Window.partitionBy(F.lit(0)).orderBy("__week_start__"))
            .cast("long"),
        ).drop("__week_start__").withColumn("day_num", F.row_number().over(w) - 1)
        for unit in ("week", "month", "quarter", "year"):
            uw = Window.partitionBy(f"{unit}_num")
            flags = flags.withColumn(
                f"is_{unit}_end", F.col("date") == F.max("date").over(uw)
            ).withColumn(
                f"is_{unit}_begin", F.col("date") == F.min("date").over(uw)
            )
        return cls(flags.localCheckpoint(eager=True))

    # ------------------------------------------------------------ offsets
    def attach_day_num(
        self, df: DataFrame, date_col: str, out: str = "day_num"
    ) -> DataFrame:
        dim = F.broadcast(self.dim.select("date", F.col("day_num").alias(out)))
        return df.join(dim, df[date_col] == dim["date"], "left").drop(dim["date"])

    def offset(self, df: DataFrame, date_col: str, n: int, out: str | None = None) -> DataFrame:
        """Shift each date by n trading days: two broadcast joins on the dim."""
        out = out or date_col
        tmp = self.attach_day_num(df, date_col, "__dn__")
        dim = F.broadcast(
            self.dim.select(
                F.col("day_num").alias("__dn2__"), F.col("date").alias("__offdate__")
            )
        )
        shifted = tmp.withColumn("__dn2__", F.col("__dn__") + F.lit(n)).join(
            dim, "__dn2__", "left"
        )
        return shifted.drop("__dn__", "__dn2__", *( [date_col] if out == date_col else [] )).withColumnRenamed(
            "__offdate__", out
        )

    def period_ends(self, unit: str = "month") -> DataFrame:
        """All period-end trading dates for unit in week|month|quarter|year."""
        return self.dim.filter(F.col(f"is_{unit}_end")).select("date").orderBy("date")

    def date_range(self, beg: int, end: int, freq: str = "daily") -> DataFrame:
        """Trading dates in [beg, end]; freq daily|week|month|quarter|year
        returns period-end dates only (busday.py:230-280).  Bounds take the
        dim's date form: int YYYYMMDD on an int dim, an ISO date string or
        ``datetime.date`` on a native date/timestamp dim."""
        # an int bound against a date column would otherwise fail in
        # analysis as DATATYPE_MISMATCH; dtypes reads the schema, no job
        native = dict(self.dim.dtypes)["date"] in ("date", "timestamp", "timestamp_ntz")
        if native and any(isinstance(b, int) for b in (beg, end)):
            raise TypeError(
                "TradingCalendar bounds on a date/timestamp calendar must be "
                f"ISO date strings or datetime.date, got {beg!r}, {end!r}"
            )
        d = self.dim.filter(F.col("date").between(beg, end))
        if freq != "daily":
            d = d.filter(F.col(f"is_{freq}_end"))
        return d.select("date").orderBy("date")

    def date_tuples(self, beg: int, end: int, freq: str = "month") -> DataFrame:
        """(beg, end] holding-period tuples from consecutive period ends
        (busday.py:440-455): each period-end paired with the previous one."""
        ends = self.date_range(beg, end, freq)
        # bounded by construction: period-end rows only
        w = Window.partitionBy(F.lit(0)).orderBy("date")
        return (
            ends.withColumn("beg", F.lag("date").over(w))
            .filter(F.col("beg").isNotNull())
            .select("beg", F.col("date").alias("end"))
        )

    def _year_month_ends(self) -> DataFrame:
        """Per (year, month): the last trading date — broadcast-sized."""
        return self.dim.groupBy(
            F.year("date").alias("__y__"), F.month("date").alias("__m__")
        ).agg(F.max("date").alias("__end__"))

    def attach_june_universe(
        self, df: DataFrame, date_col: str, out: str = "june_universe"
    ) -> DataFrame:
        """Fama-French June universe-selection date for each row: the most
        recent June-end trading day on or before the date
        (busday.py:461-466 june_universe).  Two broadcast joins against the
        per-year June-ends — the fact side never shuffles."""
        junes = self._year_month_ends().filter(F.col("__m__") == 6)
        this = F.broadcast(
            junes.select(F.col("__y__"), F.col("__end__").alias("__june__"))
        )
        prev = F.broadcast(
            junes.select((F.col("__y__") + 1).alias("__y__"),
                         F.col("__end__").alias("__june_prev__"))
        )
        out_df = (
            df.withColumn("__y__", F.year(date_col))
            .join(this, "__y__", "left")
            .join(prev, "__y__", "left")
            .withColumn(
                out,
                F.when(
                    F.col(date_col) >= F.col("__june__"), F.col("__june__")
                ).otherwise(F.col("__june_prev__")),
            )
        )
        return out_df.drop("__y__", "__june__", "__june_prev__")

    def attach_december_fiscal(
        self, df: DataFrame, date_col: str, out: str = "december_fiscal"
    ) -> DataFrame:
        """Fama-French December fiscal year-end for each row: last trading
        day of year-1 when month >= 6, else of year-2 — the accounting-data
        availability lag (busday.py:455-459 december_fiscal)."""
        yr_ends = self.dim.groupBy(F.year("date").alias("__ey__")).agg(
            F.max("date").alias("__yend__")
        )
        m1 = F.broadcast(
            yr_ends.select((F.col("__ey__") + 1).alias("__y__"),
                           F.col("__yend__").alias("__e1__"))
        )
        m2 = F.broadcast(
            yr_ends.select((F.col("__ey__") + 2).alias("__y__"),
                           F.col("__yend__").alias("__e2__"))
        )
        out_df = (
            df.withColumn("__y__", F.year(date_col))
            .join(m1, "__y__", "left")
            .join(m2, "__y__", "left")
            .withColumn(
                out,
                F.when(F.month(date_col) >= 6, F.col("__e1__")).otherwise(
                    F.col("__e2__")
                ),
            )
        )
        return out_df.drop("__y__", "__e1__", "__e2__")
