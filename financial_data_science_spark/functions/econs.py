"""Econometrics kernels (reference recipes/econs.py, filters.py, learn.py).

Division of labor at 100 TB scale (SURVEY §2.10): the *panel* stays
distributed — aggregation down to a small T x N matrix (hundreds of dates
x hundreds of series, e.g. FRED-MD is ~700 x 130) happens in Spark; the
dense linear algebra on that small matrix (SVD, EM sweeps, unit-root
regressions) runs on the driver in numpy, exactly where the reference runs
it.  Anything that stays per-group over the big panel (multi-regressor
OLS, HAC variances) is a Spark aggregate or grouped-map pandas UDF.

No statsmodels/scipy in this environment: ADF uses its own OLS + the
standard MacKinnon constant-only critical values; Newey-West is computed
from lag-window autocovariances entirely in Spark.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ------------------------------------------------------------ covariance

def covariance_matrix(df: DataFrame, cols: list[str]) -> np.ndarray:
    """Sample covariance matrix of ``cols`` via one distributed aggregate
    (N*(N+1)/2 covar_samp expressions -> driver numpy).  The input can be
    arbitrarily tall; only the N x N result is collected (finance.py:24-74
    mean-variance inputs)."""
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(F.covar_samp(a, b).alias(f"__c_{a}__{b}__"))
    row = df.agg(*aggs).collect()[0]
    n = len(cols)
    out = np.zeros((n, n))
    for i, a in enumerate(cols):
        for j in range(i, n):
            v = row[f"__c_{a}__{cols[j]}__"]
            out[i, j] = out[j, i] = v if v is not None else np.nan
    return out


def min_variance_weights(cov: np.ndarray) -> np.ndarray:
    """Global-minimum-variance portfolio w = S^-1 1 / (1' S^-1 1)
    (finance.py:24-37 gmv_portfolio, closed form)."""
    ones = np.ones(cov.shape[0])
    x = np.linalg.solve(cov, ones)
    return x / x.sum()


def efficient_weights(cov: np.ndarray, mu: np.ndarray, target: float) -> np.ndarray:
    """Minimum-variance portfolio meeting a target expected return
    (finance.py:39-57 efficient_portfolio): the two-constraint Markowitz
    solution w = S^-1 M B^-1 [target, 1]' with M = [mu, 1], B = M' S^-1 M.
    Driver-side N x N solve on the Spark-computed covariance
    (econs.cov_matrix) — N assets, small by construction."""
    mu = np.asarray(mu, dtype="float64").ravel()
    m = np.column_stack([mu, np.ones(len(mu))])
    sinv_m = np.linalg.solve(cov, m)
    b = m.T @ sinv_m
    return sinv_m @ np.linalg.solve(b, np.array([target, 1.0]))


def tangency_weights(cov: np.ndarray, mu: np.ndarray) -> np.ndarray:
    """Maximum-Sharpe (tangency) portfolio w ∝ S^-1 mu, normalized to
    w'1 = 1 (finance.py:59-75 tangency_portfolio)."""
    mu = np.asarray(mu, dtype="float64").ravel()
    x = np.linalg.solve(cov, mu)
    return x / x.sum()


def long_only_min_variance(cov: np.ndarray, max_iter: int | None = None) -> np.ndarray:
    """Long-only global-minimum-variance portfolio: min w'Sw s.t.
    1'w = 1, w >= 0 (reference finance.py:403-413 quadprog — a cvxopt QP
    with G = -I, h = 0, A = 1', b = 1; cvxopt is not in this image).

    Active-set method on the driver over the Spark-computed covariance
    (econs.covariance_matrix): solve the equality-constrained GMV on the
    free set; clamp the most negative weight to zero; at a nonnegative
    solution check the KKT multipliers of the clamped assets
    (stationarity 2Sw = lam*1 + mu, mu >= 0 complementary) and free any
    violator.  Finite for PD S: each distinct active set is visited at
    most once (standard active-set argument); max_iter defaults to 4x
    the asset count as a safety stop.  N is small by construction — the
    distributed work is the covariance aggregation, not this solve.
    """
    cov = np.asarray(cov, dtype="float64")
    n = cov.shape[0]
    max_iter = max_iter or 4 * n
    free = np.ones(n, dtype=bool)
    for _ in range(max_iter):
        w = np.zeros(n)
        w[free] = min_variance_weights(cov[np.ix_(free, free)])
        if w[free].min() < -1e-12:
            # clamp the most negative free weight to the bound
            neg = np.where(free)[0][np.argmin(w[free])]
            free[neg] = False
            continue
        # KKT: free assets share (Sw)_i = lam/2; a clamped asset with
        # (Sw)_i < lam/2 would reduce variance if freed
        grad = cov @ w
        lam_half = grad[free].mean()
        viol = (~free) & (grad < lam_half - 1e-12)
        if not viol.any():
            return np.maximum(w, 0.0)
        free[np.argmin(np.where(viol, grad, np.inf))] = True
    return np.maximum(w, 0.0)


# ------------------------------------------------------------ factors

def _wide_matrix(
    df: DataFrame, date_col: str, series_col: str, value_col: str
) -> tuple[np.ndarray, list, list]:
    """Distributed pivot to the small T x N matrix, then collect."""
    wide = (
        df.groupBy(date_col)
        .pivot(series_col)
        .agg(F.first(value_col))
        .orderBy(date_col)
    )
    pdf = wide.toPandas()
    dates = pdf[date_col].tolist()
    names = [c for c in pdf.columns if c != date_col]
    return pdf[names].to_numpy(dtype="float64"), dates, names


def approximate_factors(
    df: DataFrame,
    date_col: str = "date",
    series_col: str = "series_id",
    value_col: str = "value",
    k: int = 2,
    standardize: bool = True,
) -> pd.DataFrame:
    """Principal-component approximate factors of a long panel
    (econs.py:103-141): Spark pivots the panel to T x N, the driver takes
    the top-k left singular vectors.  Returns a pandas frame (date,
    f1..fk) — small by construction.  At very large N, swap the driver SVD
    for MLlib RowMatrix.computeSVD; the Spark-side shape is identical."""
    X, dates, _ = _wide_matrix(df, date_col, series_col, value_col)
    if standardize:
        mu = np.nanmean(X, axis=0)
        sd = np.nanstd(X, axis=0, ddof=1)
        sd[sd == 0] = 1.0
        X = (X - mu) / sd
    X = np.nan_to_num(X, nan=0.0)
    u, s, _ = np.linalg.svd(X, full_matrices=False)
    fac = u[:, :k] * s[:k] / math.sqrt(len(dates))
    out = pd.DataFrame(fac, columns=[f"f{i+1}" for i in range(k)])
    out.insert(0, date_col, dates)
    return out


def approximate_factors_rowmatrix(
    df: DataFrame,
    date_col: str = "date",
    series_col: str = "series_id",
    value_col: str = "value",
    k: int = 2,
    standardize: bool = True,
) -> DataFrame:
    """Distributed variant of :func:`approximate_factors` — the scale path
    promised in its docstring, now real: the T x N panel never
    materializes on the driver.

    Spark standardizes per series, scatters each date's cross-section
    into a dense N-vector (map_from_entries + transform — missing cells
    0, matching the driver path's nan->0), and MLlib's
    ``IndexedRowMatrix.computeSVD`` factors the distributed matrix; only
    the k singular values and N x k V come back to the driver.  Returns a
    Spark DataFrame (date, f1..fk) with factors = U*s/sqrt(T), same
    normalization as the driver path (econs.py:103-141).  Factor SIGNS
    are arbitrary (as with any SVD); align on a convention before
    comparing runs.  The only collects are the N series names and k
    singular values — driver-scale by construction.
    """
    from pyspark.mllib.linalg import Vectors
    from pyspark.mllib.linalg.distributed import IndexedRow, IndexedRowMatrix
    from pyspark.sql import Window

    spark = df.sparkSession
    names = [
        r[0]
        for r in df.select(series_col).distinct().orderBy(series_col).collect()
    ]
    n = len(names)
    pos_df = F.broadcast(
        spark.createDataFrame(
            [(nm, i) for i, nm in enumerate(names)], [series_col, "__pos__"]
        )
    )
    base = df.select(
        date_col, series_col, F.col(value_col).cast("double").alias("__v__")
    ).filter(F.col("__v__").isNotNull() & ~F.isnan("__v__"))
    if standardize:
        stats = base.groupBy(series_col).agg(
            F.avg("__v__").alias("__mu__"),
            F.stddev_samp("__v__").alias("__sd__"),
        )
        base = base.join(F.broadcast(stats), series_col).withColumn(
            "__v__",
            (F.col("__v__") - F.col("__mu__"))
            / F.when(
                F.col("__sd__").isNull() | (F.col("__sd__") == 0), 1.0
            ).otherwise(F.col("__sd__")),
        )
    # dense 0-based date index; the window is over the DISTINCT dates only
    # (T rows), so the single-partition sort is bounded.  Derived from the
    # UNFILTERED input so a date whose entire cross-section is null keeps
    # its (all-zero) row, matching the driver pivot in
    # approximate_factors — otherwise the two paths' date sets diverge on
    # degenerate panels.
    dmap = (
        df.select(date_col)
        .distinct()
        # bounded by construction: T distinct dates (documented driver
        # altitude of the factor panel)
        .withColumn(
            "__idx__",
            F.row_number().over(
                Window.partitionBy(F.lit(0)).orderBy(date_col)
            ) - 1,
        )
    )
    rows = (
        base.join(pos_df, series_col)
        .join(F.broadcast(dmap), date_col)
        .groupBy("__idx__")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("__pos__", "__v__"))
            ).alias("__m__")
        )
        .select(
            "__idx__",
            F.transform(
                F.sequence(F.lit(0), F.lit(n - 1)),
                lambda i: F.coalesce(F.element_at("__m__", i), F.lit(0.0)),
            ).alias("__arr__"),
        )
    )
    t = dmap.count()
    irm = IndexedRowMatrix(
        rows.rdd.map(lambda r: IndexedRow(r["__idx__"], Vectors.dense(r["__arr__"])))
    )
    svd = irm.computeSVD(k, computeU=True)
    scale = [float(s) / math.sqrt(t) for s in svd.s.toArray()]
    fac = svd.U.rows.map(
        lambda r: [int(r.index)] + [float(r.vector[j]) * scale[j] for j in range(k)]
    )
    cols = ["__idx__"] + [f"f{i+1}" for i in range(k)]
    fdf = spark.createDataFrame(fac, schema=", ".join(
        f"{c} double" if c != "__idx__" else "__idx__ long" for c in cols
    ))
    return fdf.join(dmap, "__idx__").select(date_col, *cols[1:])


def fillna_em(
    df: DataFrame,
    date_col: str = "date",
    series_col: str = "series_id",
    value_col: str = "value",
    k: int = 2,
    max_iter: int = 20,
    tol: float = 1e-8,
) -> pd.DataFrame:
    """EM imputation by iterated rank-k SVD reconstruction
    (econs.py:145-190): missing cells start at column means, each sweep
    replaces them with the rank-k approximation until the imputed values
    converge.  Returns the completed T x N frame (long-format ready via
    melt)."""
    X, dates, names = _wide_matrix(df, date_col, series_col, value_col)
    mask = np.isnan(X)
    mu = np.nanmean(X, axis=0)
    mu = np.where(np.isnan(mu), 0.0, mu)
    filled = np.where(mask, np.broadcast_to(mu, X.shape), X)
    for _ in range(max_iter):
        u, s, vt = np.linalg.svd(filled, full_matrices=False)
        approx = (u[:, :k] * s[:k]) @ vt[:k]
        delta = float(np.max(np.abs((approx - filled)[mask]))) if mask.any() else 0.0
        filled = np.where(mask, approx, X)
        if delta < tol:
            break
    out = pd.DataFrame(filled, columns=names)
    out.insert(0, date_col, dates)
    return out


# ------------------------------------------------------------ unit roots

# MacKinnon approximate critical values, constant-only ADF regression
ADF_CRIT = {0.01: -3.43, 0.05: -2.86, 0.10: -2.57}


def adf_tau(y: np.ndarray, lags: int = 1) -> float:
    """Augmented Dickey-Fuller tau statistic (constant, ``lags`` lagged
    differences) via plain numpy OLS (econs.py:198-236 without
    statsmodels).  tau = t-stat of the y_{t-1} coefficient in
    dy_t = c + rho*y_{t-1} + sum_i b_i dy_{t-i} + e."""
    y = np.asarray(y, dtype="float64")
    dy = np.diff(y)
    t = len(dy) - lags
    cols = [np.ones(t), y[lags:-1]]
    for i in range(1, lags + 1):
        cols.append(dy[lags - i : len(dy) - i])
    X = np.column_stack(cols)
    b, *_ = np.linalg.lstsq(X, dy[lags:], rcond=None)
    resid = dy[lags:] - X @ b
    dof = t - X.shape[1]
    s2 = resid @ resid / dof
    cov = s2 * np.linalg.inv(X.T @ X)
    return float(b[1] / math.sqrt(cov[1, 1]))


def integration_order(y: np.ndarray, pvalue: float = 0.05, max_d: int = 2) -> int:
    """Number of differences until ADF rejects a unit root
    (econs.py:225-236)."""
    crit = ADF_CRIT[pvalue]
    for d in range(max_d + 1):
        if adf_tau(y) < crit:
            return d
        y = np.diff(y)
    return max_d + 1


def adf_by_series(
    df: DataFrame,
    series_col: str = "series_id",
    date_col: str | list[str] = "date",
    value_col: str = "value",
    lags: int = 1,
) -> DataFrame:
    """Distributed per-series ADF: each series is one group -> grouped-map
    pandas UDF running the numpy regression; thousands of series test in
    parallel, none ever leaves its executor.  Pass a list as ``date_col``
    to add tiebreak columns — with duplicate timestamps the row order (and
    thus tau) is otherwise partition-order dependent."""
    sort_cols = [date_col] if isinstance(date_col, str) else list(date_col)
    out_schema = f"{series_col} string, tau double, n long"

    def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols)
        y = pdf[value_col].to_numpy(dtype="float64")
        tau = adf_tau(y, lags) if len(y) > lags + 5 else float("nan")
        return pd.DataFrame(
            {series_col: [pdf[series_col].iloc[0]], "tau": [tau], "n": [len(y)]}
        )

    return (
        df.withColumn(series_col, F.col(series_col).cast("string"))
        .groupBy(series_col)
        .applyInPandas(_fn, out_schema)
    )


# ------------------------------------------------------------ HAC / Newey-West

def hac_mean_stats(
    df: DataFrame,
    value_col: str,
    order: list[str] | str,
    keys: list[str] | str | None = None,
    lags: int = 3,
) -> DataFrame:
    """Newey-West HAC t-stat of the series mean, computed ENTIRELY in Spark
    (filters.py:99-135; backtest.py:223-282 performance t-stats).

    Autocovariances come from lag windows over the ordered series; the
    Bartlett-weighted long-run variance and t-stat are then one aggregate.
    Output per key: mean, nw_se, nw_tstat, n.
    """
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
    )
    x = F.col(value_col)
    demeaned = x - F.avg(x).over(
        Window.partitionBy(*keys_l) if keys_l else Window.partitionBy(F.lit(0))
    )
    if not keys_l:
        demeaned = _guard(demeaned, order)
    lagged = df.withColumn("__e__", demeaned)
    for l in range(1, lags + 1):
        lagged = lagged.withColumn(f"__e{l}__", F.lag("__e__", l).over(w))
    # gamma_l = sum_t e_t e_{t-l} / n (the standard NW estimator divides
    # every autocovariance by n, not by the n-l pair count)
    gamma = [F.sum(F.col("__e__") * F.col("__e__")).alias("s0")] + [
        F.sum(F.col("__e__") * F.col(f"__e{l}__")).alias(f"s{l}")
        for l in range(1, lags + 1)
    ]
    agg = lagged.groupBy(*keys_l).agg(
        F.avg(value_col).alias("mean"), F.count(value_col).alias("n"), *gamma
    )
    for l in range(lags + 1):
        agg = agg.withColumn(f"g{l}", F.col(f"s{l}") / F.col("n"))
    lrv = F.col("g0")
    for l in range(1, lags + 1):
        lrv = lrv + 2.0 * (1.0 - l / (lags + 1.0)) * F.coalesce(
            F.col(f"g{l}"), F.lit(0.0)
        )
    out = agg.withColumn("nw_se", F.sqrt(lrv / F.col("n"))).withColumn(
        "nw_tstat", F.col("mean") / F.col("nw_se")
    )
    return out.select(*keys_l, "mean", "nw_se", "nw_tstat", "n")


# ------------------------------------------------------------ multi-OLS

def least_squares_by_group(
    df: DataFrame,
    keys: list[str] | str,
    y: str,
    xs: list[str],
    add_constant: bool = True,
) -> DataFrame:
    """Multi-regressor per-group OLS via grouped-map pandas UDF
    (econs.py:238-265 least_squares general case; the 1-regressor fast
    path is stats.group_ols's pure-SQL normal equations)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    names = (["const"] if add_constant else []) + list(xs)
    fields = ", ".join(f"`b_{n}` double" for n in names)
    key_fields = ", ".join(f"`{k}` string" for k in keys)
    out_schema = f"{key_fields}, {fields}, n long"

    def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
        sub = pdf[[y, *xs]].dropna()
        X = sub[xs].to_numpy(dtype="float64")
        if add_constant:
            X = np.column_stack([np.ones(len(X)), X])
        yy = sub[y].to_numpy(dtype="float64")
        if len(yy) >= X.shape[1]:
            b, *_ = np.linalg.lstsq(X, yy, rcond=None)
        else:
            b = np.full(X.shape[1], np.nan)
        row = {k: [str(pdf[k].iloc[0])] for k in keys}
        row.update({f"b_{n}": [b[i]] for i, n in enumerate(names)})
        row["n"] = [len(yy)]
        return pd.DataFrame(row)

    cast = df
    for k in keys:
        cast = cast.withColumn(k, F.col(k).cast("string"))
    return cast.groupBy(*keys).applyInPandas(_fn, out_schema)


# ------------------------------------------------------------ FFT utilities

def cross_correlations(a: np.ndarray, b: np.ndarray, max_lag: int) -> np.ndarray:
    """FFT cross-correlation of two (already aggregated, driver-side)
    series for lead-lag alignment (filters.py:31-66): returns corr at lags
    -max_lag..max_lag."""
    a = np.asarray(a, dtype="float64")
    b = np.asarray(b, dtype="float64")
    a = (a - a.mean()) / (a.std(ddof=0) or 1.0)
    b = (b - b.mean()) / (b.std(ddof=0) or 1.0)
    n = len(a)
    size = 1 << int(np.ceil(np.log2(2 * n)))
    fa = np.fft.rfft(a, size)
    fb = np.fft.rfft(b, size)
    full = np.fft.irfft(fa * np.conj(fb), size) / n
    return np.concatenate([full[-max_lag:], full[: max_lag + 1]])


def fft_align_max(X: np.ndarray) -> list[float]:
    """Best-alignment cross-correlation of every column pair
    (filters.py:67-97): demean + unit-norm each column, zero-pad to 2N,
    multiply each column's FFT by the FFT of the flipped others, take the
    max over all lags.  Driver-scale by construction — the caller hands a
    (window x n_dates) matrix that is tiny regardless of fact-table size.
    Constant columns normalize to NaN and are skipped by the caller's
    nanmean (matching the reference's silent NaN propagation)."""
    X = np.asarray(X, dtype="float64")
    n, m = X.shape
    Xn = X - X.mean(axis=0)
    with np.errstate(divide="ignore", invalid="ignore"):
        Xn = Xn / np.linalg.norm(Xn, axis=0)
    Xp = np.pad(Xn, [(0, n), (0, 0)])
    Yf = np.fft.rfft(np.flipud(Xp), axis=0)
    Xf = np.fft.rfft(Xp, axis=0)
    corr: list[float] = []
    for col in range(m - 1):
        conv = np.fft.irfft(Xf[:, [col]] * Yf[:, col + 1 :], axis=0, n=2 * n)
        corr.extend(np.max(conv, axis=0).tolist())
    return corr


# ------------------------------------------------------------ ML prep

def train_test_split(
    df: DataFrame, test_frac: float = 0.2, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """Distributed random split (learn.py:36-72)."""
    train, test = df.randomSplit([1.0 - test_frac, test_frac], seed=seed)
    return train, test


def marginal_rsq(
    df: DataFrame,
    date_col: str = "date",
    series_col: str = "series_id",
    value_col: str = "value",
    kmax: int = 0,
) -> pd.DataFrame:
    """Marginal R-squared of each series from incrementally added principal
    factors (reference econs.py:21-48 mrsq, after Bai-Ng 2002 / McCracken's
    FRED-MD appendix): column j of the result is the share of series i's
    (standardized) variance explained by factor j alone, normalized by the
    total explained across all factors.

    Spark pivots the long panel to the small T x N matrix (the same
    distributed-aggregation seam as approximate_factors); the SVD algebra
    runs on the driver.  Row index = series names, columns f1..fk.
    """
    X, _, names = _wide_matrix(df, date_col, series_col, value_col)
    mu = np.nanmean(X, axis=0)
    sd = np.nanstd(X, axis=0)
    sd[sd == 0] = 1.0
    Z = np.nan_to_num((X - mu) / sd, nan=0.0)
    u, s, _ = np.linalg.svd(Z, full_matrices=False)
    k = kmax or len(s)
    # factor j's fitted panel is u_j u_j' Z; its per-series mean square is
    # the variance share attributed to that factor
    per = [
        np.mean((np.outer(u[:, j], u[:, j]) @ Z) ** 2, axis=0)
        for j in range(k)
    ]
    total = np.mean((u @ (u.T @ Z)) ** 2, axis=0)
    out = pd.DataFrame(
        np.column_stack(per) / total[:, None],
        index=names,
        columns=[f"f{j+1}" for j in range(k)],
    )
    return out


def select_baing(
    df: DataFrame,
    date_col: str = "date",
    series_col: str = "series_id",
    value_col: str = "value",
    kmax: int = 0,
    p: int = 2,
) -> int:
    """Bai-Ng (2002) ICp information criterion for the number of factors
    (reference econs.py:51-90 select_baing): residual variance from the
    trailing eigenvalues plus one of the three published penalties; the
    first local minimum of the IC curve is selected.

    Spark aggregates the panel; the eigenvalue arithmetic is driver-side
    (a length-min(T,N) vector).
    """
    if p not in (1, 2, 3):
        raise ValueError("p must be 1, 2 or 3")
    X, _, _ = _wide_matrix(df, date_col, series_col, value_col)
    mu = np.nanmean(X, axis=0)
    sd = np.nanstd(X, axis=0)
    sd[sd == 0] = 1.0
    Z = np.nan_to_num((X - mu) / sd, nan=0.0)
    t_, n_ = Z.shape
    nt, nt1, gct = n_ * t_, n_ + t_, min(n_, t_)
    penalty_unit = {
        1: math.log(nt / nt1) * (nt1 / nt),
        2: (nt1 / nt) * math.log(gct),
        3: math.log(gct) / gct,
    }[p]
    s = np.linalg.svd(Z, compute_uv=False)
    eig = s ** 2
    # residual variance after keeping k factors = sum of trailing eigenvalues
    resid = np.concatenate([[eig.sum()], eig.sum() - np.cumsum(eig)[:-1]])
    sigma = resid / eig.sum()
    ic = np.log(sigma + 1e-12) + penalty_unit * np.arange(gct)
    ic = ic[: (kmax or gct)]
    local = np.where(ic[:-1] < ic[1:])[0]
    return int(local[0]) if len(local) else len(ic)
