"""Cross-engine equality of the portable hash twins: every Spark Column
builder must evaluate bit-for-bit equal to its DuckDB SQL-text twin.
(The oracle gate exercises these indirectly; this is the fast local net.)"""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from financial_data_science_spark.functions.porthash import (
    charhash,
    keyhash,
    plane_sign,
    sql_charhash,
    sql_keyhash,
    sql_plane_sign,
    sql_tokhash62,
    tokhash62,
)


def test_keyhash_twins(spark):
    keys = list(range(0, 50)) + [10**6, 10**12, 7_654_321]
    pdf = pd.DataFrame({"k": keys})
    for salt in (0, 1, 17):
        got = (
            spark.createDataFrame(pdf)
            .select("k", keyhash(F.col("k"), salt).alias("h"))
            .toPandas().sort_values("k")["h"].tolist()
        )
        want = duckdb.sql(
            f"SELECT k, {sql_keyhash('k', salt)} AS h FROM pdf ORDER BY k"
        ).df()["h"].tolist()
        assert got == want, salt


def test_token_hash_twins(spark):
    toks = ["a", "the", "alpha beta", "Zz9!", "longer token with spaces"]
    pdf = pd.DataFrame({"t": toks})
    got = (
        spark.createDataFrame(pdf)
        .select(
            "t",
            charhash(F.col("t")).alias("c"),
            tokhash62(F.col("t")).alias("w"),
        )
        .toPandas().sort_values("t")
    )
    want = duckdb.sql(
        f"SELECT t, {sql_charhash('t')} AS c, {sql_tokhash62('t')} AS w "
        "FROM pdf ORDER BY t"
    ).df()
    assert got["c"].tolist() == want["c"].tolist()
    assert got["w"].tolist() == want["w"].tolist()


def test_plane_sign_twins(spark):
    pdf = pd.DataFrame({"i": list(range(0, 40))})
    for p in (0, 3, 11):
        got = (
            spark.createDataFrame(pdf)
            .select("i", plane_sign(p, F.col("i")).alias("s"))
            .toPandas().sort_values("i")["s"].tolist()
        )
        want = duckdb.sql(
            f"SELECT i, {sql_plane_sign(str(p), 'i')} AS s FROM pdf ORDER BY i"
        ).df()["s"].tolist()
        assert got == want, p
        # signs are roughly balanced per plane (SimHash vote health)
        assert 0.2 < (pd.Series(got) > 0).mean() < 0.8


def test_gram_hashes31_composed_parity(spark):
    """The let-bound composed k-gram hash (one char fold per TOKEN) must
    equal the direct per-gram fold (tokhash31 over the joined strings)
    bit-for-bit — including k > n docs (empty), duplicate grams
    (first-occurrence distinct order), multi-space runs, and nulls."""
    from financial_data_science_spark.functions.porthash import (
        gram_hashes31,
        tokhash31,
    )
    from financial_data_science_spark.functions.text import tokens, word_shingles

    texts = [
        "a b c d e f g",
        "one two",                      # shorter than k -> empty
        "x x x x x x x x",              # all-duplicate grams
        "  spaced   out\ttokens here now and then  ",
        "MiXeD Case TOKENS lower the same way ok",
        "",                             # no tokens
        None,                           # null text -> null grams
        "7 tokens exactly here for one gram",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    for k in (2, 3, 5):
        old = F.array_distinct(
            F.transform(word_shingles("text", k), lambda g: tokhash31(g))
        )
        new = gram_hashes31(tokens(F.lower(F.col("text"))), k)
        d = (
            spark.createDataFrame(pdf)
            .select("doc_id", old.alias("o"), new.alias("n"))
            .toPandas()
            .sort_values("doc_id")
        )
        for _, row in d.iterrows():
            if row["o"] is None:
                assert row["n"] is None, (k, row["doc_id"])
            else:
                assert list(row["o"]) == list(row["n"]), (k, row["doc_id"])
