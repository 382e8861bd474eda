"""Incremental MinHash-LSH index (functions/minhash_index.py): the
build+query split must be EXACT vs a full batch LSH run — signatures
are per-doc-independent, so indexing the corpus and probing with the
increment yields precisely the cross-pair subset of
similarity.minhash_candidates over the union."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from financial_data_science_spark.functions import minhash_index as MHI
from financial_data_science_spark.functions import similarity as S

PARAMS = dict(num_hashes=16, bands=8, shingle_k=3, seed=42)


def _docs(spark):
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(150)]
    base = [" ".join(rng.choice(vocab, 50)) for _ in range(40)]
    rows = [(i, t) for i, t in enumerate(base)]
    # planted cross near-dups: corpus doc i (i%5!=0) vs increment id
    for j, i in enumerate([1, 7, 13]):
        words = base[i].split()
        words[4] = "edited"
        rows.append((100 + 5 * j, " ".join(words)))  # ids 100,105,110: %5==0
    # planted WITHIN-increment dup (both ids %5==0): must NOT appear
    rows.append((115, base[2]))
    rows.append((120, base[2]))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def _split(docs):
    return (
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
    )


def _cross_pairs_full_batch(docs, portable):
    """Oracle: full-corpus minhash_candidates restricted to cross pairs,
    reoriented as (new_id, corpus_id)."""
    full = S.minhash_candidates(docs, portable=portable, **PARAMS).toPandas()
    out = set()
    for l, r, e in full[["left_id", "right_id", "est_jaccard"]].to_numpy():
        l_new, r_new = l % 5 == 0, r % 5 == 0
        if l_new and not r_new:
            out.add((int(l), int(r), float(e)))
        elif r_new and not l_new:
            out.add((int(r), int(l), float(e)))
    return out


def _index_pairs(spark, docs, portable, persist=False):
    corpus, inc = _split(docs)
    idx = MHI.minhash_build_index(
        corpus, portable=portable, persist=persist, **PARAMS
    )
    got = MHI.minhash_query_index(inc, idx).toPandas()
    return {
        (int(n), int(c), float(e))
        for n, c, e in got[["new_id", "corpus_id", "est_jaccard"]].to_numpy()
    }


def test_incremental_equals_full_batch_portable(spark):
    docs = _docs(spark)
    assert _index_pairs(spark, docs, portable=True) == _cross_pairs_full_batch(
        docs, portable=True
    )


def test_incremental_equals_full_batch_production(spark):
    """Same parity on the xxhash64 production family (different hashes,
    different candidate set — the split must still match it exactly)."""
    docs = _docs(spark)
    got = _index_pairs(spark, docs, portable=False, persist=True)
    assert got == _cross_pairs_full_batch(docs, portable=False)
    # the planted cross near-dups must be found with high estimates
    found = {(n, c) for n, c, _ in got}
    assert {(100, 1), (105, 7), (110, 13)} <= found
    # the planted WITHIN-increment dup (115, 120) must NOT appear —
    # cross pairs only is the module contract
    assert not any({n, c} == {115, 120} for n, c, _ in got)


def test_min_est_filters(spark):
    docs = _docs(spark)
    corpus, inc = _split(docs)
    idx = MHI.minhash_build_index(corpus, portable=True, **PARAMS)
    all_pairs = MHI.minhash_query_index(inc, idx).toPandas()
    strict = MHI.minhash_query_index(inc, idx, min_est=0.9).toPandas()
    assert set(strict["new_id"]) <= set(all_pairs["new_id"])
    assert (strict["est_jaccard"] >= 0.9).all()
    assert len(strict) == (all_pairs["est_jaccard"] >= 0.9).sum()


def test_empty_increment(spark):
    docs = _docs(spark)
    corpus, _ = _split(docs)
    idx = MHI.minhash_build_index(corpus, portable=True, **PARAMS)
    empty = docs.filter(F.lit(False))
    assert MHI.minhash_query_index(empty, idx).count() == 0


def test_stream_probe_matches_batch_and_holds_zero_state(spark, tmp_path):
    """The streaming arm (catalog stream_minhash_index_probe kernel):
    per-row minhash_band_keys folds must collide bit-for-bit with the
    index's aggregate-built bucket keys (cross-formulation parity), and
    the stream-static probe join must hold ZERO state rows — collision
    evidence emits in the observing micro-batch, nothing is stored."""
    from pyspark.sql import types as T

    from financial_data_science_spark.functions.similarity import (
        minhash_band_keys,
    )

    docs = _docs(spark)
    corpus, inc = _split(docs)
    # index params must satisfy the band-key fold contract (rpb=2)
    idx = MHI.minhash_build_index(
        corpus, num_hashes=8, bands=4, shingle_k=3, seed=42,
        portable=True, persist=True,
    )

    # batch reference: the same per-row fold on the increment
    bk_batch = minhash_band_keys(
        inc.select("doc_id", "text"), num_hashes=8, bands=4
    )
    want = {
        tuple(map(int, r))
        for r in bk_batch.select(
            F.col("doc_id").alias("new_id"), "band", "bhash"
        ).join(idx["buckets"], ["band", "bhash"])
        .select("new_id", "corpus_id", "band", "bhash").collect()
    }
    assert want, "fixture must produce collisions"

    # streaming arm over a parquet dir of the increment
    src = str(tmp_path / "inc_src")
    inc.coalesce(1).write.parquet(src)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    probe = (
        minhash_band_keys(stream, num_hashes=8, bands=4)
        .select(F.col("doc_id").alias("new_id"), "band", "bhash")
        .join(idx["buckets"], ["band", "bhash"])
        .select("new_id", "corpus_id", "band", "bhash")
    )
    q = (
        probe.writeStream.outputMode("append").format("memory")
        .queryName("t_mhidx_stream").start()
    )
    try:
        q.processAllAvailable()
        progress = q.lastProgress
    finally:
        q.stop()
    got = {
        tuple(map(int, r))
        for r in spark.sql("SELECT * FROM t_mhidx_stream").collect()
    }
    assert got == want
    assert progress is None or progress["stateOperators"] in ([], None)


# ---------------------------------------------------------- frozen census


def _boilerplate_docs(spark):
    """Docs where a shared boilerplate prefix dominates: without a stop
    census the boilerplate shingles drag unrelated docs into shared
    buckets; the corpus census (max_df) must stop them."""
    rng = np.random.default_rng(23)
    vocab = [f"t{i}" for i in range(200)]
    boiler = "copyright notice all rights reserved see license terms"
    base = [boiler + " " + " ".join(rng.choice(vocab, 40)) for _ in range(40)]
    rows = [(i, t) for i, t in enumerate(base)]
    # planted cross near-dup whose similarity lives in the UNIQUE tail
    words = base[3].split()
    words[-5] = "edited"
    rows.append((100, " ".join(words)))  # %5==0 -> increment
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def _pairs_set(pdf):
    return {
        (int(n), int(c), float(e))
        for n, c, e in pdf[["new_id", "corpus_id", "est_jaccard"]].to_numpy()
    }


def test_frozen_census_increment_equals_batch_under_same_census(spark):
    """The r11-verdict parity contract: an increment probed against a
    max_df index equals the cross-pair subset of a BATCH run over
    corpus+increment under the SAME frozen census (minhash_candidates
    with stop_frame=) — and the frozen set actually stops something."""
    docs = _boilerplate_docs(spark)
    corpus, inc = _split(docs)
    for portable in (True, False):
        idx = MHI.minhash_build_index(
            corpus, portable=portable, max_df=0.25, **PARAMS
        )
        assert idx["stop"] is not None and idx["stop"].count() > 0
        got = _pairs_set(MHI.minhash_query_index(inc, idx).toPandas())
        batch = S.minhash_candidates(
            docs, portable=portable, stop_frame=idx["stop"], **PARAMS
        ).toPandas()
        want = set()
        for l, r, e in batch[["left_id", "right_id", "est_jaccard"]].to_numpy():
            if (l % 5 == 0) != (r % 5 == 0):
                n, c = (l, r) if l % 5 == 0 else (r, l)
                want.add((int(n), int(c), float(e)))
        assert got == want, f"portable={portable}"
        # the planted unique-tail near-dup survives the census
        assert any((n, c) == (100, 3) for n, c, _ in got)


def test_census_and_stop_frame_are_mutually_exclusive(spark):
    """A signature pass takes a census or a frozen stop set, never both:
    a per-batch re-census on top of a frozen set would drift the kept
    shingles."""
    import pytest

    docs = _boilerplate_docs(spark)
    corpus, _ = _split(docs)
    idx = MHI.minhash_build_index(corpus, portable=True, max_df=0.25, **PARAMS)
    with pytest.raises(ValueError, match="not both"):
        S.minhash_signatures(
            corpus, max_df=0.25, stop_frame=idx["stop"]
        )
