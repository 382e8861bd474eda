"""Training-pipeline operators: deterministic splits/samples, global
cumsum / shard packing, contamination, embedding near-dups."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from financial_data_science_spark.functions.pipeline import (
    contamination,
    hash_sample,
    hash_split,
    pack_token_budget,
)
from financial_data_science_spark.operators.windows import global_cumsum


def _docs(spark, n=400):
    rng = np.random.default_rng(11)
    return spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": np.arange(n), "tok": rng.integers(1, 300, n)}
        )
    )


def test_hash_split_deterministic_and_partition_independent(spark):
    d = _docs(spark)
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = hash_split(d, "doc_id", w).toPandas().sort_values("doc_id")
    b = hash_split(d.repartition(7), "doc_id", w).toPandas().sort_values("doc_id")
    assert (a["split"].values == b["split"].values).all()
    frac = a["split"].value_counts(normalize=True)
    assert 0.7 < frac["train"] < 0.9  # hash is roughly uniform
    assert set(frac.index) == {"train", "val", "test"}


def test_hash_sample_is_nested_and_stable(spark):
    d = _docs(spark)
    s30 = set(hash_sample(d, "doc_id", 0.3).toPandas()["doc_id"])
    s50 = set(hash_sample(d, "doc_id", 0.5).toPandas()["doc_id"])
    assert s30 <= s50  # same hash, larger threshold: strictly nested
    assert 0.2 < len(s30) / 400 < 0.4
    # different salt reshuffles membership
    s30b = set(hash_sample(d, "doc_id", 0.3, salt=1).toPandas()["doc_id"])
    assert s30 != s30b


def test_global_cumsum_matches_single_window(spark):
    d = _docs(spark, 1000)
    got = (
        global_cumsum(d, "doc_id", "tok", out="c", num_blocks=16)
        .toPandas().sort_values("doc_id")["c"].to_numpy()
    )
    want = (
        d.withColumn(
            "c",
            F.sum("tok").over(
                Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .toPandas().sort_values("doc_id")["c"].to_numpy()
    )
    assert (got == want).all()


def test_pack_token_budget_properties(spark):
    d = _docs(spark)
    out = (
        pack_token_budget(d, "doc_id", "tok", budget=1000)
        .toPandas().sort_values("doc_id")
    )
    # shards are monotone in pack order and start at 0
    assert out["shard"].iloc[0] == 0
    assert (np.diff(out["shard"].values) >= 0).all()
    # a shard never exceeds budget by more than one document's tokens
    per = out.groupby("shard")["tok"].sum()
    assert (per.iloc[:-1] <= 1000 + out["tok"].max()).all()


def test_contamination_hand_example(spark):
    train = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    "the quick brown fox jumps over the lazy dog",
                    "completely unrelated words in this line here now",
                ],
            }
        )
    )
    bench = spark.createDataFrame(
        pd.DataFrame({"doc_id": [9], "text": ["quick brown fox jumps over"]})
    )
    out = (
        contamination(train, bench, n=5)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # doc 1 has 5 distinct 5-grams, exactly one ("quick brown fox jumps
    # over") present in the benchmark
    assert out.loc[1, "n_ngrams"] == 5
    assert out.loc[1, "n_contaminated"] == 1
    assert out.loc[2, "n_contaminated"] == 0


def test_contamination_screen_matches_join_form(spark):
    """The stateless per-row screen (mapInPandas membership test) must
    keep exactly the docs the explode-join-aggregate `contamination`
    reports as n_contaminated == 0 — plus the gram-less docs the join
    form drops entirely (no 5-grams -> nothing to screen -> clean)."""
    from financial_data_science_spark.functions.pipeline import (
        contamination_screen,
        ngram_hashes,
    )
    from financial_data_science_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    train = docs.filter(F.col("doc_id") % 17 != 0)
    bench_hashes = [
        r["__h__"]
        for r in docs.filter(F.col("doc_id") % 17 == 0)
        .select(F.explode(ngram_hashes("text", 5, True)).alias("__h__"))
        .distinct()
        .collect()
    ]
    got = {
        r["doc_id"]
        for r in contamination_screen(train, spark, bench_hashes, n=5)
        .select("doc_id")
        .collect()
    }
    cont = contamination(
        train, docs.filter(F.col("doc_id") % 17 == 0), n=5
    ).toPandas()
    flagged = set(cont.loc[cont["n_contaminated"] > 0, "doc_id"])
    all_train = {r["doc_id"] for r in train.select("doc_id").collect()}
    want = all_train - flagged
    assert got == want and len(got) > 0
    # schema passes through unchanged (screen is a pure row filter)
    assert (
        contamination_screen(train, spark, bench_hashes, n=5).schema
        == train.schema
    )
    # null text -> no grams -> clean (the join form's gram-less rule),
    # and must not crash the Arrow batch
    nulls = spark.createDataFrame(
        [(1, None), (2, "totally clean words here and then some more")],
        "doc_id bigint, text string",
    )
    kept = contamination_screen(nulls, spark, bench_hashes, n=5)
    assert {r["doc_id"] for r in kept.collect()} == {1, 2}


def test_screen_kernels_agree(spark):
    """The Arrow frozenset screen keeps exactly the complement of the
    broadcast semi-join's contaminated_ids, also with a pre-created
    Broadcast (caller-owned lifecycle)."""
    from financial_data_science_spark.functions.pipeline import (
        contaminated_ids,
        contamination_screen,
        ngram_hashes,
    )
    from financial_data_science_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    train = docs.filter(F.col("doc_id") % 17 != 0)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    bench_hashes = [
        r["h"]
        for r in bench.select(
            F.explode(ngram_hashes("text", 5, False)).alias("h")
        ).distinct().collect()
    ]
    pandas_kept = {
        r["doc_id"]
        for r in contamination_screen(
            train, spark, bench_hashes, n=5, portable=False
        ).select("doc_id").collect()
    }
    hit = {
        r["doc_id"]
        for r in contaminated_ids(
            train, bench, n=5, portable=False
        ).collect()
    }
    all_train = {r["doc_id"] for r in train.select("doc_id").collect()}
    assert pandas_kept == all_train - hit
    assert 0 < len(pandas_kept) < len(all_train)
    # pre-created Broadcast: accepted, same result, caller unpersists
    bc = spark.sparkContext.broadcast(
        frozenset(int(h) for h in bench_hashes)
    )
    bc_kept = {
        r["doc_id"]
        for r in contamination_screen(
            train, spark, bc, n=5, portable=False
        ).select("doc_id").collect()
    }
    bc.unpersist()
    assert bc_kept == pandas_kept


def test_embedding_near_dups_subset_of_exact(spark):
    from financial_data_science_spark.functions.similarity import (
        cosine,
        embedding_near_dups,
    )
    from financial_data_science_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    got = embedding_near_dups(emb, n_planes=4, n_tables=3, threshold=0.4).toPandas()
    assert len(got) > 0
    assert (got["left_id"] < got["right_id"]).all()
    assert (got["score"] >= 0.4).all()
    # LSH candidates with exact verify can only UNDER-report vs brute force
    a, b = emb.alias("a"), emb.alias("b")
    exact = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("l"),
            F.col("b.vec_id").alias("r"),
            F.round(cosine("a.embedding", "b.embedding"), 6).alias("s"),
        )
        .filter(F.col("s") >= 0.4)
        .toPandas()
    )
    exact_pairs = set(zip(exact["l"], exact["r"]))
    assert set(zip(got["left_id"], got["right_id"])) <= exact_pairs


def test_bond_column_twins_match_scalar(spark):
    """Vectorized sequence+aggregate bond math == the scalar driver-side
    functions, across a grid of (coupon, n, ytm)."""
    from financial_data_science_spark.functions.finance import (
        bond_convexity,
        bond_convexity_col,
        bond_price,
        bond_price_col,
        macaulay_duration,
        macaulay_duration_col,
    )

    grid = [
        (4.0, 6, 0.05),
        (0.0, 10, 0.03),
        (7.5, 1, 0.08),
        (2.0, 40, 0.01),
    ]
    pdf = pd.DataFrame(grid, columns=["coupon", "n", "ytm"])
    df = spark.createDataFrame(pdf)
    out = (
        df.withColumn(
            "price", bond_price_col(F.col("coupon"), F.col("n"), 2, F.col("ytm"))
        )
        .withColumn(
            "dur",
            macaulay_duration_col(
                F.col("coupon"), F.col("n"), 2, F.col("price"), F.col("ytm")
            ),
        )
        .withColumn(
            "conv",
            bond_convexity_col(
                F.col("coupon"), F.col("n"), 2, F.col("price"), F.col("ytm")
            ),
        )
        .toPandas()
        .sort_values(["coupon", "n"])
    )
    for _, r in out.iterrows():
        p = bond_price(r["coupon"], int(r["n"]), 2, r["ytm"])
        assert abs(r["price"] - p) < 1e-9
        assert abs(r["dur"] - macaulay_duration(r["coupon"], int(r["n"]), 2, p, r["ytm"])) < 1e-9
        assert abs(r["conv"] - bond_convexity(r["coupon"], int(r["n"]), 2, p, r["ytm"])) < 1e-9


def test_chunk_documents_reconstructs_and_bounds(spark):
    """Chunk invariants: every chunk <= max_tokens; consecutive chunks
    overlap by exactly `overlap` tokens (except a short final chunk);
    dropping each chunk's overlap prefix and concatenating reconstructs
    the original token stream; short docs yield exactly one chunk."""
    from financial_data_science_spark.functions.pipeline import chunk_documents

    rows = [
        (1, " ".join(f"t{i}" for i in range(53))),   # multi-chunk
        (2, "a b c"),                                # single short chunk
        (3, ""),                                     # empty
        (4, " ".join(f"u{i}" for i in range(20))),   # exactly max
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = (
        chunk_documents(docs, max_tokens=20, overlap=4)
        .toPandas()
        .sort_values(["doc_id", "chunk_id"])
    )
    assert (out.n_tokens <= 20).all()
    assert out.groupby("doc_id").size().to_dict() == {1: 4, 2: 1, 3: 1, 4: 1}
    for doc_id, text in rows:
        toks = text.split()
        chunks = out[out.doc_id == doc_id].chunk_text.tolist()
        rebuilt = chunks[0].split() if chunks[0] else []
        for c in chunks[1:]:
            assert c.split()[:4] == rebuilt[-4:] or len(c.split()) < 4
            rebuilt += c.split()[4:]
        assert rebuilt == toks, doc_id


def test_mixture_sample_monotone_and_deterministic(spark):
    """Raising a source's rate only ADDS rows (nested samples); rates are
    per-source; rerun is identical."""
    from financial_data_science_spark.functions.pipeline import mixture_sample

    rows = [(i, f"src{i % 3}") for i in range(600)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "source"]))
    lo = mixture_sample(docs, "source", {"src0": 0.2, "src1": 1.0}).toPandas()
    hi = mixture_sample(docs, "source", {"src0": 0.6, "src1": 1.0}).toPandas()
    assert set(lo[lo.source == "src0"].doc_id) <= set(hi[hi.source == "src0"].doc_id)
    assert len(lo[lo.source == "src1"]) == 200       # rate 1.0 keeps all
    assert len(lo[lo.source == "src2"]) == 0         # absent -> dropped
    n0 = len(hi[hi.source == "src0"])
    assert 80 <= n0 <= 160, n0                       # ~0.6 * 200
    again = mixture_sample(docs, "source", {"src0": 0.2, "src1": 1.0}).toPandas()
    assert sorted(again.doc_id) == sorted(lo.doc_id)
