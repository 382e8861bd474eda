"""MLlib vocab + pipeline layer vs pandas/python oracles (vocab.py, learn.py)."""

from __future__ import annotations

import collections

import numpy as np
from pyspark.sql import functions as F

from financial_data_science_spark.functions.vocab import (
    doc_term_vectors,
    embedding_join,
    fit_vocab,
)
from financial_data_science_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


def test_vocab_matches_python_wordcount(spark):
    docs = load_table(spark, SF, "documents").limit(200).cache()
    model, vocab = fit_vocab(docs, vocab_size=50)
    # oracle: python Counter over the same regex tokenization
    import re

    counter: collections.Counter = collections.Counter()
    for r in docs.select("text").collect():
        counter.update(t for t in re.split(r"\W+", r.text.lower()) if t)
    # MLlib vocabulary is ordered by document... corpus frequency; the top-50
    # set must match the Counter's top tokens (allowing tie reordering)
    want_counts = sorted(counter.values(), reverse=True)[:50]
    got_counts = sorted((counter[w] for w in vocab), reverse=True)
    assert got_counts == want_counts
    vecs = doc_term_vectors(model, docs)
    row = vecs.select("doc_id", "doc_vec").first()
    assert row.doc_vec.size == len(vocab)


def test_doc_vector_counts_one_doc(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta alpha gamma alpha beta")], "doc_id long, text string"
    )
    model, vocab = fit_vocab(df, vocab_size=10)
    vec = doc_term_vectors(model, df).first().doc_vec
    got = {vocab[i]: int(v) for i, v in zip(vec.indices, vec.values)}
    assert got == {"alpha": 3, "beta": 2, "gamma": 1}


def test_embedding_join_mean(spark):
    docs = spark.createDataFrame(
        [(1, "red blue"), (2, "red red green"), (3, "nothing matches")],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [("red", [1.0, 0.0]), ("blue", [0.0, 1.0]), ("green", [1.0, 1.0])],
        "word string, vector array<float>",
    )
    out = {r.doc_id: r for r in embedding_join(docs, emb).collect()}
    assert np.allclose(out[1].doc_embedding, [0.5, 0.5])
    assert np.allclose(out[2].doc_embedding, [1.0, 1.0 / 3.0])
    assert out[2].n_matched == 3
    assert 3 not in out  # no matched words -> no row (inner join)


def test_lang_classifier_learns_marker_words(spark):
    """End-to-end MLlib pipeline on a corpus where the label IS learnable:
    each language mixes shared vocabulary with language-specific marker
    words.  (The driver's synthetic documents table has text independent
    of its lang column, so it can't test learning.)"""
    from financial_data_science_spark.functions.learn import (
        lang_classifier_pipeline,
    )

    import random

    rng = random.Random(0)
    shared = ["table", "join", "scan", "filter", "column", "row"]
    markers = {"en": ["the", "and"], "de": ["der", "und"], "fr": ["le", "et"]}
    rows = []
    for i in range(300):
        lang = ["en", "de", "fr"][i % 3]
        words = [rng.choice(shared) for _ in range(8)] + [
            rng.choice(markers[lang]) for _ in range(4)
        ]
        rng.shuffle(words)
        rows.append((i, " ".join(words), lang))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    train, test = docs.randomSplit([0.75, 0.25], seed=42)
    pred = lang_classifier_pipeline().fit(train).transform(test)
    ok = (F.col("prediction") == F.col("__label__")).cast("int")
    acc = pred.select(F.avg(ok)).first()[0]
    assert acc > 0.9, acc


def test_pad_sequences_rectangular_within_batch(spark):
    import pandas as pd

    from financial_data_science_spark.functions.learn import pad_sequences

    rows = [
        (1, "a", [1, 2, 3]),
        (2, "a", [9]),
        (3, "a", []),
        (4, "b", [5, 6]),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "batch", "ids"])
    )
    out = pad_sequences(df, "ids", batch_col="batch", pad=0).toPandas()
    got = {r.id: list(r.padded) for r in out.itertuples()}
    assert got == {1: [1, 2, 3], 2: [9, 0, 0], 3: [0, 0, 0], 4: [5, 6]}


def test_batch_assign_partitions_and_epochs(spark):
    import pandas as pd

    from financial_data_science_spark.functions.learn import batch_assign

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(300)})
    )
    a = batch_assign(df, "doc_id", batch_size=64).toPandas()
    sizes = a.groupby("batch").size()
    assert sizes.iloc[:-1].eq(64).all() and sizes.iloc[-1] == 300 % 64
    # deterministic rerun; different salt = different permutation
    b = batch_assign(df, "doc_id", batch_size=64).toPandas()
    assert a.sort_values("doc_id").batch.tolist() == b.sort_values("doc_id").batch.tolist()
    c = batch_assign(df, "doc_id", batch_size=64, salt=1).toPandas()
    assert a.sort_values("doc_id").batch.tolist() != c.sort_values("doc_id").batch.tolist()
