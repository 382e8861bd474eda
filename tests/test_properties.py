"""Property-based tests (SURVEY §5): algebraic laws the operators must obey
on arbitrary inputs, via hypothesis-generated panels."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from financial_data_science_spark.operators import asof_join, winsorize
from financial_data_science_spark.operators.compounding import compounded

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rets = st.lists(
    st.one_of(st.none(), st.floats(min_value=-0.5, max_value=0.5, width=32)),
    min_size=1,
    max_size=24,
)


@given(r=rets, split=st.integers(0, 23))
@SLOW
def test_compounding_associativity(spark, r, split):
    """compound(a..b) then compound over the two halves' results equals
    compound(a..c) — the law that lets interval compounding distribute."""
    split = min(split, len(r) - 1)
    pdf = pd.DataFrame({"seg": [0] * split + [1] * (len(r) - split), "ret": r})
    pdf["ret"] = pdf["ret"].astype("float64")
    df = spark.createDataFrame(pdf.assign(k=1), "seg int, ret double, k int")
    whole = df.groupBy("k").agg(compounded("ret", "ret")).collect()[0]["ret"]
    parts = (
        df.groupBy("k", "seg").agg(compounded("ret", "ret"))
        .groupBy("k").agg(compounded("ret", "ret"))
        .collect()[0]["ret"]
    )
    if whole is None:
        assert parts is None
    else:
        assert parts == pytest.approx(whole, rel=1e-9, abs=1e-12)


events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=30
)


@given(left=events, right=events)
@SLOW
def test_asof_join_is_left_total_and_matches_pandas(spark, left, right):
    """as-of join returns exactly the left rows, and the matched value
    equals pandas.merge_asof on the same data."""
    lp = pd.DataFrame(left, columns=["k", "t"]).drop_duplicates(["k", "t"])
    rp = pd.DataFrame(right, columns=["k", "rt"]).drop_duplicates(["k", "rt"])
    rp["v"] = rp["rt"] * 10 + rp["k"]
    ldf = spark.createDataFrame(lp, "k long, t long")
    rdf = spark.createDataFrame(rp, "k long, rt long, v long")
    out = asof_join(ldf, rdf, by="k", left_on="t", right_on="rt").toPandas()
    assert len(out) == len(lp)
    oracle = pd.merge_asof(
        lp.sort_values("t", kind="stable"),
        rp.sort_values("rt", kind="stable"),
        left_on="t", right_on="rt", by="k",
    )
    got = out.sort_values(["k", "t"]).reset_index(drop=True)
    want = oracle.sort_values(["k", "t"]).reset_index(drop=True)
    gv = got["v"].fillna(-1).to_numpy()
    wv = want["v"].fillna(-1).to_numpy()
    assert (gv == wv).all()


vals = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, width=32), min_size=5, max_size=60
)


@given(v=vals)
@SLOW
def test_winsorize_contract(spark, v):
    """Winsorize clips to the numpy interpolated [2.5%, 97.5%] quantiles:
    every output lies within the bounds, interior values pass through
    untouched, and rank order is preserved (filters.py:145-157).  (NOT
    idempotence — re-clipping moves interpolated quantiles inward.)"""
    arr = np.asarray(v, dtype="float64")
    pdf = pd.DataFrame({"i": range(len(v)), "x": arr})
    df = spark.createDataFrame(pdf, "i long, x double")
    out = winsorize(df, "x", exact=True).toPandas().sort_values("i").reset_index(drop=True)
    lo, hi = np.percentile(arr, [2.5, 97.5], method="linear")
    got = out["x"].to_numpy()
    eps = 1e-9 * max(1.0, float(np.abs(arr).max()))
    assert (got >= lo - eps).all() and (got <= hi + eps).all()
    interior = (arr > lo) & (arr < hi)
    assert np.allclose(got[interior], arr[interior], rtol=0, atol=eps)
    # order preservation: ranks of clipped data never invert
    order = np.argsort(arr, kind="stable")
    assert (np.diff(got[order]) >= -eps).all()


vals = st.lists(
    st.floats(min_value=-100, max_value=100, width=32),
    min_size=3,
    max_size=40,
)


@given(v=vals, alpha=st.floats(min_value=0.01, max_value=0.9))
@SLOW
def test_ewma_is_convex_combination(spark, v, alpha):
    """adjust=True EWMA is a convex combination of the history: every
    output lies within [running min, running max], and the first output
    equals the first input."""
    from financial_data_science_spark.operators.windows import ewma

    pdf = pd.DataFrame({"t": range(len(v)), "x": v})
    got = (
        ewma(spark.createDataFrame(pdf), None, "t", "x", alpha=alpha)
        .toPandas().sort_values("t")["ewma"].to_numpy()
    )
    run_min = np.minimum.accumulate(v)
    run_max = np.maximum.accumulate(v)
    assert got[0] == pytest.approx(v[0], rel=1e-9, abs=1e-9)
    assert (got >= run_min - 1e-9).all() and (got <= run_max + 1e-9).all()


@given(v=st.lists(st.floats(min_value=-1e6, max_value=1e6, width=32),
                  min_size=5, max_size=60))
@SLOW
def test_outlier_fences_contract(spark, v):
    """lo <= hi always; every in-sample quartile midpoint survives
    remove_outliers (the fences contain [Q1, Q3] by construction)."""
    from financial_data_science_spark.operators.fractiles import (
        outlier_fences,
        remove_outliers,
    )

    pdf = pd.DataFrame({"x": v})
    df = spark.createDataFrame(pdf)
    for method in ("tukey", "farout", "iq10"):
        f = outlier_fences(df, "x", method=method).toPandas().iloc[0]
        assert f["x_lo"] <= f["x_hi"] + 1e-12
        q1, q3 = np.percentile(v, [25, 75])
        assert f["x_lo"] <= q1 + 1e-6 and f["x_hi"] >= q3 - 1e-6
        out = remove_outliers(df, "x", method=method).toPandas()
        # survivors are exactly the in-fence values
        want = pdf["x"].between(f["x_lo"], f["x_hi"]).sum()
        assert out["x"].notna().sum() == want


@given(
    n=st.integers(min_value=2, max_value=6),
    seed=st.integers(min_value=0, max_value=10_000),
)
@SLOW
def test_long_only_gmv_is_feasible_and_no_worse_than_equal_weight(n, seed):
    from financial_data_science_spark.functions.econs import (
        long_only_min_variance,
    )

    rng = np.random.default_rng(seed)
    a = rng.normal(size=(n + 2, n))
    cov = a.T @ a / (n + 2) + np.eye(n) * 1e-4
    w = long_only_min_variance(cov)
    assert w.sum() == pytest.approx(1.0, abs=1e-9)
    assert (w >= -1e-10).all()
    ew = np.full(n, 1.0 / n)
    assert w @ cov @ w <= ew @ cov @ ew + 1e-12


@given(ts=st.lists(st.integers(0, 500), min_size=1, max_size=40),
       gap=st.integers(1, 50))
@SLOW
def test_sessionize_gap_law(spark, ts, gap):
    """Gaps-and-islands contract on arbitrary event times: a new session
    starts exactly when the gap to the previous event exceeds ``gap``;
    tied timestamps (delta 0) always share a session, so the python
    oracle over the sorted list is well-defined even with duplicates."""
    from financial_data_science_spark.operators.windows import sessionize

    s = sorted(ts)
    oracle, sid, prev = [], 0, None
    for t in s:
        if prev is None or t - prev > gap:
            sid += 1
        oracle.append(sid)
        prev = t
    pdf = pd.DataFrame({"t": ts})
    out = (
        sessionize(spark.createDataFrame(pdf, "t long"), "t", gap)
        .toPandas().sort_values("t")
    )
    assert out["session_id"].tolist() == oracle


@given(flags=st.lists(st.booleans(), min_size=1, max_size=40))
@SLOW
def test_islands_run_length_law(spark, flags):
    """islands() over an arbitrary boolean sequence assigns one id per
    maximal constant run, ids increment by exactly 1 at each change."""
    from financial_data_science_spark.operators.windows import islands

    oracle, cur = [], 0
    for i, f in enumerate(flags):
        if i == 0 or flags[i - 1] != f:
            cur += 1
        oracle.append(cur)
    pdf = pd.DataFrame({"t": range(len(flags)), "f": flags})
    out = (
        islands(spark.createDataFrame(pdf, "t long, f boolean"), "f", "t")
        .toPandas().sort_values("t")
    )
    assert out["island"].tolist() == oracle


@given(f=st.lists(st.floats(min_value=0.25, max_value=4.0, width=32),
                  min_size=1, max_size=30))
@SLOW
def test_reverse_cumprod_is_product_of_later_rows(spark, f):
    """reverse_cumprod(x)[i] == product of x over rows strictly after i
    (1.0 at the last row) — the split back-adjustment law, vs numpy."""
    from financial_data_science_spark.operators.windows import reverse_cumprod

    arr = np.asarray(f, dtype="float64")
    pdf = pd.DataFrame({"i": range(len(arr)), "x": arr})
    out = (
        reverse_cumprod(spark.createDataFrame(pdf, "i long, x double"), "x", "i")
        .toPandas().sort_values("i")["cumfactor"].to_numpy()
    )
    suffix = np.cumprod(arr[::-1])[::-1]  # prod(arr[i:])
    want = np.append(suffix[1:], 1.0)     # prod(arr[i+1:])
    assert np.allclose(out, want, rtol=1e-9, atol=0)


@given(d=st.dictionaries(st.integers(0, 9999), st.integers(-1000, 1000),
                         min_size=1, max_size=50),
       nb=st.integers(1, 8))
@SLOW
def test_global_cumsum_matches_pandas_any_blocking(spark, nb, d):
    """The two-phase distributed prefix sum is block-boundary-independent:
    exact integer equality with pandas cumsum for ANY num_blocks, on both
    the approxQuantile path (numeric key) and the repartitionByRange
    fallback (string key, zero-padded so lexicographic == numeric)."""
    from financial_data_science_spark.operators.windows import global_cumsum

    pdf = pd.DataFrame({"k": list(d.keys()), "x": list(d.values())}).sort_values("k")
    want = pdf["x"].cumsum().to_numpy()
    df = spark.createDataFrame(pdf, "k long, x long")
    got = (
        global_cumsum(df, "k", "x", num_blocks=nb)
        .toPandas().sort_values("k")["cumsum"].to_numpy()
    )
    assert (got == want).all()
    sdf = df.withColumn("ks", F.lpad(F.col("k").cast("string"), 4, "0"))
    got2 = (
        global_cumsum(sdf, "ks", "x", num_blocks=nb)
        .toPandas().sort_values("ks")["cumsum"].to_numpy()
    )
    assert (got2 == want).all()


@given(rows=st.lists(st.tuples(st.integers(0, 9), st.integers(-20, 20)),
                     min_size=1, max_size=30),
       nb=st.integers(2, 4))
@example(
    rows=[(k, 1) for k in range(10) if k != 4] + [(4, v) for v in (5, -3, 7, -9)],
    nb=2,
)
@SLOW
def test_global_cumsum_tied_keys_keep_the_frame_total(spark, rows, nb):
    """Under tied order keys the running sum inside a tie is ambiguous,
    but each block's total is not: with duplicated keys and signed
    values, the row with the unique largest key carries the frame total
    (for an in-place ``out == col`` call too)."""
    from financial_data_science_spark.operators.windows import global_cumsum

    top = max(k for k, _ in rows) + 1
    rows = rows + [(top, 3)]
    df = spark.createDataFrame(rows, "k long, x long")
    total = sum(v for _, v in rows)
    for out in ("cumsum", "x"):
        got = (
            global_cumsum(df, "k", "x", out=out, num_blocks=nb)
            .filter(F.col("k") == top).collect()
        )
        assert [r[out] for r in got] == [total]


@given(w=st.lists(st.floats(min_value=0.05, max_value=1.0), min_size=2, max_size=4),
       f1=st.floats(min_value=0.0, max_value=1.0),
       f2=st.floats(min_value=0.0, max_value=1.0))
@SLOW
def test_hash_split_partition_and_sample_monotone(spark, w, f1, f2):
    """hash_split assigns every key exactly one label from the weight set,
    independent of physical layout, for ARBITRARY weight vectors; and
    hash_sample is threshold-monotone: the kept-key set at a smaller
    fraction is a subset of the kept-key set at a larger one (same salt),
    so growing a sample never churns membership."""
    from financial_data_science_spark.functions.pipeline import (
        hash_sample,
        hash_split,
    )

    tot = sum(w)
    weights = {f"s{i}": x / tot for i, x in enumerate(w)}
    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    out = hash_split(df, "doc_id", weights).toPandas()
    assert len(out) == 200 and out["doc_id"].nunique() == 200
    assert set(out["split"]) <= set(weights)
    out2 = hash_split(df.repartition(5), "doc_id", weights).toPandas()
    assert (
        out.sort_values("doc_id")["split"].tolist()
        == out2.sort_values("doc_id")["split"].tolist()
    )
    lo, hi = sorted([f1, f2])
    a = set(hash_sample(df, "doc_id", lo).toPandas()["doc_id"])
    b = set(hash_sample(df, "doc_id", hi).toPandas()["doc_id"])
    assert a <= b


@given(v=st.lists(st.one_of(st.none(),
                            st.floats(min_value=-50, max_value=50, width=32)),
                  min_size=2, max_size=60),
       alpha=st.floats(min_value=0.02, max_value=0.95),
       adjust=st.booleans())
@SLOW
def test_ewma_chunked_equals_plain_and_pandas(spark, v, alpha, adjust):
    """ewma_chunked is an EXACT reformulation of ewma (docstring claims
    1-ulp) on arbitrary series, alphas and null patterns; and for
    adjust=True both match pandas ewm exactly (the documented any-null
    exactness; adjust=False internal-gap deviation is documented, so the
    pandas oracle applies to adjust=True only)."""
    from financial_data_science_spark.operators.windows import ewma, ewma_chunked

    pdf = pd.DataFrame({"t": range(len(v)),
                        "x": np.array([np.nan if x is None else x for x in v],
                                      dtype="float64")})
    df = spark.createDataFrame(pdf, "t long, x double")
    a = (
        ewma(df, None, "t", "x", alpha=alpha, adjust=adjust)
        .toPandas().sort_values("t")["ewma"].to_numpy()
    )
    b = (
        ewma_chunked(df, None, "t", "x", alpha=alpha, adjust=adjust)
        .toPandas().sort_values("t")["ewma"].to_numpy()
    )
    assert np.allclose(a, b, rtol=1e-9, atol=1e-12, equal_nan=True)
    if adjust:
        want = pdf["x"].ewm(alpha=alpha, adjust=True, ignore_na=False).mean().to_numpy()
        assert np.allclose(a, want, rtol=1e-9, atol=1e-12, equal_nan=True)


@given(ws=st.lists(st.text(alphabet="abcd", min_size=1, max_size=6),
                   min_size=1, max_size=8),
       k=st.integers(0, 4))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_roundtrip_reconstruction(spark, ws, k):
    """Lossless-segmentation law: for ANY corpus and merge count, joining
    a word's BPE tokens and stripping the end-of-word marker reconstructs
    the original (lowercased) text — merges only ever concatenate
    adjacent symbols, never drop or reorder them."""
    from financial_data_science_spark.functions.bpe import EOW, bpe_apply, bpe_train

    text = " ".join(ws)
    docs = spark.createDataFrame(pd.DataFrame({"text": [text]}))
    merges, _ = bpe_train(docs, "text", num_merges=k)
    toks = docs.select(bpe_apply(F.col("text"), merges).alias("t")).collect()[0]["t"]
    assert "".join(toks).replace(EOW, "") == "".join(ws)


@given(
    n=st.integers(min_value=1, max_value=8),
    seed=st.integers(min_value=0, max_value=10_000),
    scale=st.floats(min_value=1e-3, max_value=1e3),
)
@SLOW
def test_ldlt_solve_steps_property(n, seed, scale):
    """The generated LDL^T assignment sequence (general-k IRLS driver
    solve AND its SQL oracle — one generator, both sides) must solve
    ANY SPD system to relative numpy accuracy, across sizes, seeds and
    magnitudes (the IRLS sums span ~1e-3..1e3 after quantization)."""
    from financial_data_science_spark.functions.classifier import (
        _eval_steps,
        ldlt_solve_steps,
    )

    rng = np.random.default_rng(seed)
    g = rng.normal(size=(n, n))
    a = (g @ g.T + n * np.eye(n)) * scale
    v = rng.normal(size=n) * scale
    env = {}
    for i in range(n):
        for j in range(i, n):
            env[f"a{i + 1}{j + 1}"] = a[i, j]
        env[f"v{i + 1}"] = v[i]
    out = _eval_steps(ldlt_solve_steps(n), env)
    got = np.array([out[f"b{i + 1}"] for i in range(n)])
    want = np.linalg.solve(a, v)
    denom = max(1.0, np.abs(want).max())
    assert np.abs(got - want).max() / denom < 1e-9
