"""Econometrics kernels vs numpy oracles (recipes/econs.py, filters.py)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from financial_data_science_spark.functions.econs import (
    adf_by_series,
    adf_tau,
    approximate_factors,
    covariance_matrix,
    cross_correlations,
    fillna_em,
    hac_mean_stats,
    integration_order,
    least_squares_by_group,
    min_variance_weights,
    train_test_split,
)


def test_covariance_and_min_variance(spark):
    rng = np.random.default_rng(7)
    X = rng.normal(size=(400, 3)) @ np.array(
        [[1.0, 0.3, 0.0], [0.0, 1.0, 0.5], [0.0, 0.0, 1.0]]
    )
    pdf = pd.DataFrame(X, columns=["a", "b", "c"])
    df = spark.createDataFrame(pdf)
    got = covariance_matrix(df, ["a", "b", "c"])
    want = np.cov(X, rowvar=False, ddof=1)
    assert np.allclose(got, want, atol=1e-10)
    w = min_variance_weights(got)
    assert w.sum() == pytest.approx(1.0)
    # any perturbation increases variance
    base = w @ got @ w
    for i in range(3):
        p = w.copy()
        p[i] += 0.01
        p /= p.sum()
        assert p @ got @ p >= base - 1e-12


def test_approximate_factors_recovers_rank(spark):
    rng = np.random.default_rng(3)
    t, n, k = 120, 20, 2
    f = rng.normal(size=(t, k))
    lam = rng.normal(size=(k, n))
    X = f @ lam
    long = pd.DataFrame(
        {
            "date": np.repeat(np.arange(t), n),
            "series_id": np.tile([f"s{i}" for i in range(n)], t),
            "value": X.ravel(),
        }
    )
    df = spark.createDataFrame(long)
    fac = approximate_factors(df, k=k, standardize=False)
    # factor space must span the true factors: R2 of regression ~ 1
    F_hat = fac[["f1", "f2"]].to_numpy()
    for j in range(k):
        b, *_ = np.linalg.lstsq(F_hat, f[:, j], rcond=None)
        resid = f[:, j] - F_hat @ b
        assert resid.var() / f[:, j].var() < 1e-10


def test_fillna_em_rank1(spark):
    rng = np.random.default_rng(5)
    t, n = 60, 8
    X = np.outer(rng.normal(size=t), rng.normal(size=n))
    mask = rng.random((t, n)) < 0.1
    Xm = X.copy()
    Xm[mask] = np.nan
    long = pd.DataFrame(
        {
            "date": np.repeat(np.arange(t), n),
            "series_id": np.tile([f"s{i}" for i in range(n)], t),
            "value": Xm.ravel(),
        }
    )
    df = spark.createDataFrame(long)
    done = fillna_em(df, k=1, max_iter=200, tol=1e-12)
    got = done[[f"s{i}" for i in range(n)]].to_numpy()
    assert np.allclose(got[mask], X[mask], atol=1e-4)


def test_adf_distinguishes_unit_root(spark):
    rng = np.random.default_rng(11)
    noise = rng.normal(size=500)
    walk = np.cumsum(rng.normal(size=500))
    assert adf_tau(noise) < -3.43  # stationary: strongly rejects
    assert adf_tau(walk) > -2.86  # unit root: fails to reject at 5%
    assert integration_order(noise) == 0
    assert integration_order(walk) == 1
    long = pd.DataFrame(
        {
            "series_id": ["n"] * 500 + ["w"] * 500,
            "date": list(range(500)) * 2,
            "value": np.concatenate([noise, walk]),
        }
    )
    out = {
        r.series_id: r.tau
        for r in adf_by_series(spark.createDataFrame(long)).collect()
    }
    assert out["n"] == pytest.approx(adf_tau(noise), abs=1e-9)
    assert out["w"] == pytest.approx(adf_tau(walk), abs=1e-9)


def test_hac_mean_matches_numpy(spark):
    rng = np.random.default_rng(13)
    # AR(1) series: HAC variance must exceed naive iid variance
    e = rng.normal(size=800)
    x = np.zeros(800)
    for i in range(1, 800):
        x[i] = 0.6 * x[i - 1] + e[i]
    x = x + 0.3
    pdf = pd.DataFrame({"t": range(800), "v": x, "k": 1})
    got = hac_mean_stats(
        spark.createDataFrame(pdf), "v", order="t", keys="k", lags=4
    ).collect()[0]
    d = x - x.mean()
    gam = [float((d[: 800 - l] * d[l:]).sum() / 800) for l in range(5)]
    lrv = gam[0] + 2 * sum((1 - l / 5) * gam[l] for l in range(1, 5))
    want_se = math.sqrt(lrv / 800)
    assert got.mean == pytest.approx(x.mean(), abs=1e-12)
    assert got.nw_se == pytest.approx(want_se, rel=1e-6)
    naive_se = x.std(ddof=1) / math.sqrt(800)
    assert got.nw_se > naive_se  # positive autocorr inflates the HAC se


def test_least_squares_by_group(spark):
    rng = np.random.default_rng(17)
    rows = []
    truth = {}
    for g in ["a", "b"]:
        X = rng.normal(size=(200, 2))
        b = rng.normal(size=3)
        y = b[0] + X @ b[1:] + rng.normal(scale=0.01, size=200)
        truth[g] = b
        for i in range(200):
            rows.append((g, float(y[i]), float(X[i, 0]), float(X[i, 1])))
    df = spark.createDataFrame(rows, "g string, y double, x1 double, x2 double")
    out = {
        r.g: (r["b_const"], r["b_x1"], r["b_x2"])
        for r in least_squares_by_group(df, "g", "y", ["x1", "x2"]).collect()
    }
    for g, b in truth.items():
        assert np.allclose(out[g], b, atol=0.01)


def test_cross_correlation_finds_lag(spark):
    rng = np.random.default_rng(19)
    a = rng.normal(size=300)
    b = np.roll(a, 3)  # b lags a by 3
    cc = cross_correlations(a, b, max_lag=10)
    assert int(np.argmax(cc)) - 10 in (-3, 3)
    assert cc.max() > 0.9


def test_train_test_split_disjoint(spark):
    df = spark.range(1000)
    tr, te = train_test_split(df, 0.25, seed=1)
    assert tr.count() + te.count() == 1000
    assert tr.join(te, "id", "inner").count() == 0


def test_rowmatrix_factors_match_driver_svd(spark):
    """Distributed RowMatrix path == driver numpy SVD path up to the
    per-factor sign ambiguity, on a panel with missing cells."""
    from financial_data_science_spark.functions.econs import (
        approximate_factors_rowmatrix,
    )

    rng = np.random.default_rng(11)
    t, n, k = 60, 15, 3
    X = rng.normal(size=(t, k)) @ rng.normal(size=(k, n)) + rng.normal(
        scale=0.1, size=(t, n)
    )
    long = pd.DataFrame(
        {
            "date": np.repeat(np.arange(t), n),
            "series_id": np.tile([f"s{i:02d}" for i in range(n)], t),
            "value": X.ravel(),
        }
    )
    long = long.drop(long.sample(frac=0.05, random_state=1).index)  # holes
    df = spark.createDataFrame(long)
    want = approximate_factors(df, k=k).sort_values("date")
    got = (
        approximate_factors_rowmatrix(df, k=k)
        .toPandas()
        .sort_values("date")
        .reset_index(drop=True)
    )
    assert got["date"].tolist() == want["date"].tolist()
    for j in range(1, k + 1):
        a = want[f"f{j}"].to_numpy()
        b = got[f"f{j}"].to_numpy()
        # align the arbitrary SVD sign before comparing
        if np.dot(a, b) < 0:
            b = -b
        np.testing.assert_allclose(a, b, rtol=1e-6, atol=1e-8)


def test_efficient_and_tangency_portfolios():
    """Constraint satisfaction + optimality by perturbation + the
    efficient frontier containing both gmv and tangency as special cases
    (finance.py:24-75)."""
    from financial_data_science_spark.functions.econs import (
        efficient_weights,
        min_variance_weights,
        tangency_weights,
    )

    rng = np.random.default_rng(5)
    a = rng.normal(size=(6, 4))
    cov = a.T @ a / 6 + np.eye(4) * 0.01
    mu = np.array([0.02, 0.05, 0.03, 0.08])

    target = 0.04
    w = efficient_weights(cov, mu, target)
    assert w.sum() == pytest.approx(1.0)
    assert w @ mu == pytest.approx(target)
    # any other feasible perturbation has higher variance
    base = w @ cov @ w
    # project d onto the feasible subspace {d: d'1=0, d'mu=0} exactly
    m = np.column_stack([mu, np.ones(4)])
    d = np.array([1.0, -1.0, 0.5, -0.5])
    d = d - m @ np.linalg.solve(m.T @ m, m.T @ d)
    assert abs(d @ mu) < 1e-12 and abs(d.sum()) < 1e-12
    for eps in (0.01, -0.01):
        wp = w + eps * d
        assert wp @ cov @ wp >= base - 1e-15

    tw = tangency_weights(cov, mu)
    assert tw.sum() == pytest.approx(1.0)
    # tangency maximizes sharpe among frontier portfolios
    sharpe = (tw @ mu) / np.sqrt(tw @ cov @ tw)
    for t2 in (0.03, 0.05, 0.07):
        we = efficient_weights(cov, mu, t2)
        s2 = (we @ mu) / np.sqrt(we @ cov @ we)
        assert sharpe >= s2 - 1e-12
    # gmv is the unconstrained-return frontier minimum
    gmv = min_variance_weights(cov)
    assert gmv @ cov @ gmv <= w @ cov @ w + 1e-15


def test_long_only_min_variance_vs_grid():
    from financial_data_science_spark.functions.econs import (
        long_only_min_variance,
        min_variance_weights,
    )

    rng = np.random.default_rng(7)
    # covariance engineered so the unconstrained GMV shorts asset 2
    a = rng.normal(size=(8, 3))
    cov = a.T @ a / 8 + np.eye(3) * 0.05
    cov[0, 2] = cov[2, 0] = 0.9 * np.sqrt(cov[0, 0] * cov[2, 2])
    uncon = min_variance_weights(cov)
    w = long_only_min_variance(cov)
    assert w.sum() == pytest.approx(1.0)
    assert (w >= -1e-12).all()
    # brute-force simplex grid oracle at 0.01 resolution
    best, best_v = None, np.inf
    steps = 100
    for i in range(steps + 1):
        for j in range(steps + 1 - i):
            g = np.array([i, j, steps - i - j]) / steps
            v = g @ cov @ g
            if v < best_v:
                best, best_v = g, v
    assert w @ cov @ w <= best_v + 1e-10
    assert np.abs(w - best).max() < 0.02  # within one grid step
    if (uncon >= 0).all():
        # unconstrained solution feasible -> must match closed form
        assert np.allclose(w, uncon, atol=1e-10)


def test_long_only_matches_unconstrained_when_interior():
    from financial_data_science_spark.functions.econs import (
        long_only_min_variance,
        min_variance_weights,
    )

    cov = np.array([[0.04, 0.01, 0.0], [0.01, 0.09, 0.02], [0.0, 0.02, 0.16]])
    uncon = min_variance_weights(cov)
    assert (uncon >= 0).all()  # diagonal-dominant: interior optimum
    assert np.allclose(long_only_min_variance(cov), uncon, atol=1e-12)


def test_long_only_kkt_certificate():
    from financial_data_science_spark.functions.econs import (
        long_only_min_variance,
    )

    rng = np.random.default_rng(11)
    for _ in range(20):
        a = rng.normal(size=(6, 5))
        cov = a.T @ a / 6 + np.eye(5) * 1e-3
        w = long_only_min_variance(cov)
        assert w.sum() == pytest.approx(1.0)
        assert (w >= -1e-12).all()
        grad = cov @ w
        free = w > 1e-10
        lam_half = grad[free].mean()
        # free assets share the marginal variance; clamped ones exceed it
        assert np.abs(grad[free] - lam_half).max() < 1e-8
        assert (grad[~free] >= lam_half - 1e-8).all()


def test_fstats_breaks_vs_reference_loop(spark):
    import numpy as np
    import pandas as pd

    from financial_data_science_spark.functions.stats import fstats_breaks

    rng = np.random.default_rng(9)
    x = np.concatenate([rng.normal(0, 1, 40), rng.normal(2, 1, 40)])
    pdf = pd.DataFrame({"g": "s", "t": np.arange(80), "value": x})
    got = (
        fstats_breaks(spark.createDataFrame(pdf), "g", value="value", order="t")
        .toPandas().sort_values("t")["fstat"].to_numpy()
    )
    # reference formula (econs.py:267-283), O(n^2) loop
    n = len(x)
    rse = np.var(x)
    sse = np.ones(n) * rse
    for i in range(int(n * 0.15), int(0.85 * n) + 1):
        sse[i] = (np.var(x[:i]) * i + np.var(x[i:]) * (n - i)) / n
    want = ((n - 2) / 2) * (rse - sse) / rse
    want[: int(n * 0.15)] = 0.0
    want[int(0.85 * n) + 1:] = 0.0
    assert np.allclose(got, want, atol=1e-8)
    # the planted break at t=40 is detected
    assert abs(int(pdf["t"][np.argmax(got)]) - 40) <= 3


def test_marginal_rsq_and_select_baing(spark):
    import numpy as np
    import pandas as pd

    from financial_data_science_spark.functions.econs import (
        marginal_rsq,
        select_baing,
    )

    rng = np.random.default_rng(21)
    t_, n_, k_true = 200, 60, 2
    f = rng.normal(size=(t_, k_true))
    lam = rng.normal(size=(k_true, n_)) * 3
    X = f @ lam + rng.normal(size=(t_, n_)) * 2.0
    long = pd.DataFrame({
        "date": np.repeat(np.arange(t_), n_),
        "series_id": np.tile([f"s{i}" for i in range(n_)], t_),
        "value": X.ravel(),
    })
    df = spark.createDataFrame(long)
    assert select_baing(df, kmax=10) == k_true
    mr = marginal_rsq(df, kmax=5)
    assert mr.shape == (n_, 5)
    # first two factors dominate: their shares dwarf the rest
    assert mr[["f1", "f2"]].to_numpy().sum() > 0.9 * mr.to_numpy().sum()
    assert ((mr >= -1e-9) & (mr <= 1 + 1e-9)).all().all()


def test_norm_ppf_and_halflife():
    from financial_data_science_spark.functions.finance import halflife
    from financial_data_science_spark.functions.stats import norm_ppf

    # classical z values
    assert norm_ppf(0.05) == pytest.approx(-1.6448536269514722, abs=1e-8)
    assert norm_ppf(0.5) == pytest.approx(0.0, abs=1e-12)
    assert norm_ppf(0.975) == pytest.approx(1.959963984540054, abs=1e-8)
    assert halflife(0.5) == pytest.approx(1.0)
    assert halflife(0.06) == pytest.approx(-np.log(2) / np.log(0.94))
    assert halflife(0) == 0 and halflife(1.5) == float("inf")


def test_rolling_ols_vs_pandas(spark):
    import pandas as pd

    from financial_data_science_spark.functions.stats import rolling_ols

    rng = np.random.default_rng(31)
    n = 80
    x = rng.normal(0, 1, n)
    y = 1.5 * x + 0.3 + rng.normal(0, 0.5, n)
    pdf = pd.DataFrame({"g": "a", "t": np.arange(n), "y": y, "x": x})
    got = (
        rolling_ols(spark.createDataFrame(pdf), "g", "t", "y", "x", window=20)
        .toPandas().sort_values("t").reset_index(drop=True)
    )
    for t in [5, 19, 20, 50, 79]:
        if t < 19:
            assert pd.isna(got.loc[t, "slope"])
            continue
        seg = pdf.iloc[t - 19 : t + 1]
        sl, ic = np.polyfit(seg["x"], seg["y"], 1)
        assert got.loc[t, "slope"] == pytest.approx(sl, rel=1e-9), t
        assert got.loc[t, "intercept"] == pytest.approx(ic, rel=1e-9), t
        r = np.corrcoef(seg["x"], seg["y"])[0, 1]
        assert got.loc[t, "r2"] == pytest.approx(r * r, rel=1e-9), t
