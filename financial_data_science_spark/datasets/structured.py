"""Structured-dataset facades mirroring the reference API surface on Spark.

Reference: finds/structured/structured.py + stocks.py + crsp.py +
signals.py + benchmarks.py.  Every method is a lazy DataFrame plan built
from the Phase-1 operator library — no driver loops, no per-call SQL
round-trips (§3 of SURVEY.md: the reference's python-loop pipelines are
re-expressed set-at-a-time).

Conventions preserved from the reference:
  - int YYYYMMDD dates (`beg=19000000, end=29001231` stocks.py:38-39);
  - negative prices are bid-ask midpoints -> consumers take abs(prc)
    (crsp.py:174-180);
  - links with linkdt=0 are open-start (structured.py:313-314);
  - prevailing row = latest date <= asof (stocks.py:354-407).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from financial_data_science_spark.operators import (
    asof_join,
    compound_intervals,
    compound_returns,
    event_window,
    prevailing,
)
from financial_data_science_spark.operators.compounding import delist_adjusted_ret
from financial_data_science_spark.operators.fractiles import bucket_expr, quantiles_expr
from financial_data_science_spark.plans.calendar import TradingCalendar


def _with_capco(cap: DataFrame) -> DataFrame:
    """Permco-aggregated cap (J10) as a window-sum, no re-join."""
    return cap.withColumn("capco", F.sum("cap").over(Window.partitionBy("permco")))


class Stocks:
    """Daily/monthly stock panels (stocks.py:25-457)."""

    def __init__(self, daily: DataFrame, monthly: DataFrame | None = None,
                 calendar: TradingCalendar | None = None):
        self.daily = daily
        self.monthly = monthly
        self.calendar = calendar

    def _table(self, dataset: str) -> DataFrame:
        if dataset == "daily":
            return self.daily
        if dataset == "monthly":
            if self.monthly is None:
                raise ValueError("no monthly table attached")
            return self.monthly
        raise ValueError(f"unknown dataset {dataset!r}")

    def get_section(
        self, dataset: str, fields: list[str], date: int, start: int | None = None,
        date_field: str = "date",
    ) -> DataFrame:
        """Prevailing cross-section per permno (stocks.py:354-407, J7/W2):
        latest row with start < date_field <= date."""
        df = self._table(dataset).select("permno", date_field, *fields)
        return prevailing(df, "permno", date_field, asof=date, start=start)

    def get_range(
        self, dataset: str, fields: list[str], beg: int, end: int,
        date_field: str = "date",
    ) -> DataFrame:
        """P1/P2: projection + date-range predicate (stocks.py:429-452)."""
        df = self._table(dataset)
        return df.select("permno", date_field, *fields).filter(
            F.col(date_field).between(beg, end)
        )

    def get_ret(self, beg: int, end: int, dataset: str = "daily",
                field: str = "ret") -> DataFrame:
        """A2: compounded return per permno over [beg, end]
        (stocks.py:102-145), min_count=1 semantics."""
        return compound_returns(
            self._table(dataset), "permno", ret_col=field, beg=beg, end=end,
            alias=field,
        )

    def get_compounded(self, intervals: DataFrame, dataset: str = "daily",
                       field: str = "ret") -> DataFrame:
        """A4: compound within each (beg, end] interval (stocks.py:147-167),
        all intervals in one range-join job."""
        return compound_intervals(
            self._table(dataset), intervals, "permno", ret_col=field, alias=field
        )

    def get_window(
        self, dataset: str, field: str, events: DataFrame, left: int, right: int,
        event_date: str = "date", date_field: str = "date",
    ) -> DataFrame:
        """J4: per-event relative-trading-day gather (stocks.py:202-294) —
        explode offsets + ONE equi-join, not one SQL join per day."""
        if self.calendar is None:
            raise ValueError("get_window requires a trading calendar")
        fact = self._table(dataset).withColumnRenamed(date_field, "__fd__")
        return event_window(
            events, fact, by="permno", event_date=event_date, fact_date="__fd__",
            values=[field], left=left, right=right, calendar=self.calendar.dim,
        )


class CRSP(Stocks):
    """CRSP-flavored derived queries (crsp.py)."""

    def __init__(self, daily, monthly=None, calendar=None, names: DataFrame | None = None,
                 shares: DataFrame | None = None, dist: DataFrame | None = None,
                 delist: DataFrame | None = None):
        super().__init__(daily, monthly, calendar)
        self.names = names
        self.shares = shares
        self.dist = dist
        self.delist = delist

    def _names_section(self, date: int, fields: list[str]) -> DataFrame:
        """Prevailing ``names`` row per permno at ``date`` (J7)."""
        return prevailing(
            self.names.select("permno", "date", *fields), "permno", "date",
            asof=date,
        ).select("permno", *fields)

    def get_cap(self, date: int, use_shares: bool = False,
                use_permco: bool = False) -> DataFrame:
        """Market cap cross-section (crsp.py:130-188): abs(prc) x shrout,
        optionally shares-table shrout (prevailing interval row J14) and
        permco-aggregated cap (J10 via window-sum, no re-join)."""
        cap = self._cap_section(date, use_shares)
        if use_permco:
            if self.names is None:
                raise ValueError("use_permco requires names table")
            cap = _with_capco(
                cap.join(F.broadcast(self._names_section(date, ["permco"])),
                         "permno", "inner")
            )
        return cap

    def _cap_section(self, date: int, use_shares: bool) -> DataFrame:
        sec = self.get_section("daily", ["prc", "shrout"], date)
        if use_shares:
            if self.shares is None:
                raise ValueError("use_shares requires shares table")
            sh = prevailing(
                self.shares.select("permno", F.col("shrsdt").alias("d"),
                                   F.col("shrout").alias("shrout_sh")),
                "permno", "d", asof=date,
            ).select("permno", "shrout_sh")
            sec = sec.join(sh, "permno", "left").withColumn(
                "shrout", F.coalesce("shrout_sh", "shrout")
            ).drop("shrout_sh")
        return sec.withColumn("cap", F.abs(F.col("prc")) * F.col("shrout"))

    def get_universe(self, date: int, min_cap: float = 0.0) -> DataFrame:
        """P9/J9: investable universe screen at a date (crsp.py:203-252):
        shrcd in (10,11), exchcd in (1,2,3), cap>0, NYSE-breakpoint decile.

        One cross-section: the ``names`` section is taken once with
        permco, shrcd and exchcd, and the NYSE breakpoints are a window
        aggregate over the screened rows.  ``fractile_split``'s broadcast
        breakpoint branch would prune other columns and push
        ``exchcd == 1`` into its own scans, so no exchange is reused and
        the daily/shares/names lineage would run twice."""
        if self.names is None:
            raise ValueError("get_universe requires names table")
        nm = self._names_section(date, ["permco", "shrcd", "exchcd"])
        cap = self._cap_section(date, use_shares=self.shares is not None)
        # capco sums over every security of the permco before the screen,
        # as get_cap(use_permco=True) does
        uni = _with_capco(cap.join(F.broadcast(nm), "permno", "inner")).filter(
            F.col("shrcd").isin(10, 11)
            & F.col("exchcd").isin(1, 2, 3)
            & (F.col("cap") > min_cap)
            & (F.col("capco") > 0)
        )
        # capco is a float window-SUM shared by every row of a permco, so
        # decile breakpoints routinely land EXACTLY on tied capco values;
        # the strict-> bucketing (filters.py:281-287) would then flip on
        # last-bit summation-order differences between engines/partitionings.
        # Fixing the precision before breakpoints+bucketing makes the split
        # deterministic (6 dp ~ 1e9x the ulp of a dollar-scale cap).
        uni = uni.withColumn("capco", F.round("capco", 6))
        # exact NYSE decile breakpoints, bucketed strictly descending
        # (fractile_split's semantics).  Bounded by construction: the
        # window holds one row per security at one date.
        probs = F.array(*[F.lit(p / 10.0) for p in range(1, 10)])
        nyse = F.when(F.col("exchcd") == 1, F.col("capco").cast("double"))
        breaks = quantiles_expr(nyse, probs, exact=True).over(
            Window.partitionBy(F.lit(0))
        )
        cols = [c for c in uni.columns if c not in ("shrcd", "exchcd")]
        return uni.select(
            *cols, "shrcd", "exchcd",
            bucket_expr("capco", breaks, ascending=False).alias("decile"),
        )

    def get_divamt(self, beg: int, end: int) -> DataFrame:
        """J8: dividends x shares equi-join + agg (crsp.py:259-281)."""
        if self.dist is None:
            raise ValueError("get_divamt requires dist table")
        d = self.dist.filter(
            (F.col("divamt") > 0) & F.col("exdt").between(beg, end)
        ).select("permno", F.col("exdt").alias("date"), "divamt")
        j = d.join(self.daily.select("permno", "date", "shrout"), ["permno", "date"])
        return j.groupBy("permno").agg(
            F.sum(F.col("divamt") * F.col("shrout")).alias("divamt")
        )

    def get_ret_with_delist(self, beg: int, end: int) -> DataFrame:
        """A3/J11: monthly compounded returns merged with delisting returns
        (crsp.py:283-357): missing dlret with qualifying code -> -0.3, total
        = (1+ret)(1+dlret)-1."""
        if self.monthly is None:
            raise ValueError("requires monthly table")
        m = self.monthly.filter(F.col("date").between(beg, end))
        base = m.withColumn(
            "ret",
            F.when(
                F.col("dlstcd").isNotNull() & (F.col("dlstcd") > 0),
                delist_adjusted_ret("ret", "dlret", "dlstcd"),
            ).otherwise(F.col("ret")),
        )
        return compound_returns(base, "permno", ret_col="ret", alias="ret")


class Signals:
    """Derived-signal store (signals.py): partitioned parquet
    signals/label=<label>/ instead of one SQL table per label."""

    def __init__(self, path: str, spark=None):
        self.path = path
        self._spark = spark

    def write(self, df: DataFrame, label: str, overwrite: bool = True) -> int:
        """S21: clean (non-finite -> null -> drop), dedup PK keep-last,
        write label partition (signals.py:62-101)."""
        clean = (
            df.select("permno", "rebaldate", F.col(label).alias("value"))
            .withColumn(
                "value",
                F.when(
                    F.col("value").isNotNull()
                    & ~F.isnan("value")
                    & (F.abs("value") != float("inf")),
                    F.col("value"),
                ),
            )
            .dropna(subset=["value"])
        )
        from financial_data_science_spark.operators import keep_extremum

        clean = keep_extremum(clean, ["permno", "rebaldate"], ["value"], keep="last")
        (
            clean.withColumn("label", F.lit(label))
            .write.mode("overwrite" if overwrite else "append")
            .partitionBy("label")
            .parquet(self.path)
        )
        return clean.count()

    def read(self, spark, label: str) -> DataFrame:
        return (
            spark.read.parquet(self.path)
            .filter(F.col("label") == label)
            .drop("label")
        )

    def __call__(self, spark, label: str, date: int, start: int) -> DataFrame:
        """W2: prevailing signal value per permno with
        start < rebaldate <= date (signals.py:28-45)."""
        return prevailing(
            self.read(spark, label), "permno", "rebaldate", asof=date, start=start
        ).withColumnRenamed("value", label)


class Benchmarks:
    """Long-format benchmark/index return series (benchmarks.py:23-69)."""

    def __init__(self, series: DataFrame):
        self.series = series  # (permno: str series name, date: int, ret)

    def get_series(self, names: list[str], beg: int, end: int) -> DataFrame:
        """P3: series selection, returned long (pivot wide via W11 at call
        sites that need it)."""
        return self.series.filter(
            F.col("permno").isin(names) & F.col("date").between(beg, end)
        )

    @staticmethod
    def from_wide(df: DataFrame, date_col: str = "date") -> "Benchmarks":
        """S20: melt wide series columns into the long layout
        (benchmarks.py:36-69)."""
        value_cols = [c for c in df.columns if c != date_col]
        stack = F.expr(
            "stack({n}, {pairs}) as (permno, ret)".format(
                n=len(value_cols),
                pairs=", ".join(f"'{c}', `{c}`" for c in value_cols),
            )
        )
        return Benchmarks(df.select(F.col(date_col).alias("date"), stack))
