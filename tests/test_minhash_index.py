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


def test_at_rest_index_probe_skips_corpus_side_exchange(spark, tmp_path):
    """minhash_write_index buckets the table by the probe join key
    (band, bhash); the probe join's index side must read co-located
    buckets — the 100 TB contract: only the increment shuffles.
    Asserted behaviorally: with broadcast off (forcing SMJ), the
    at-rest plan carries exactly one fewer Exchange than the same query
    against the in-memory index, and the bucket scan reads Bucketed."""
    docs = _docs(spark)
    corpus, inc = _split(docs)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS mhidx LOCATION '{tmp_path}/mhidx'")
    idx = MHI.minhash_build_index(corpus, portable=False, **PARAMS)
    MHI.minhash_write_index(idx, "mhidx.t", n_buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        reopened = MHI.minhash_read_index(
            spark, "mhidx.t", portable=False, **PARAMS
        )
        got = MHI.minhash_query_index(inc, reopened).toPandas()
        want = _cross_pairs_full_batch(docs, portable=False)
        assert {
            (int(n), int(c), float(e))
            for n, c, e in got[["new_id", "corpus_id", "est_jaccard"]].to_numpy()
        } == want
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # isolate the bucket-join stage: identical probe side (one
        # materialized banded increment) joined against (a) the
        # materialized in-memory bucket frame and (b) the at-rest
        # bucketed table.  (a) must exchange BOTH sides for the SMJ;
        # (b) must exchange only the probe — exactly one fewer.
        sig = S.minhash_signatures(
            inc, "doc_id", "text", PARAMS["shingle_k"],
            PARAMS["num_hashes"], PARAMS["seed"], portable=False,
        )
        nb = S.lsh_banded(
            sig, "doc_id", "new_id", PARAMS["num_hashes"],
            PARAMS["bands"], False,
        ).localCheckpoint(eager=True)
        mem_buckets = idx["buckets"].localCheckpoint(eager=True)
        plan_mem = (
            nb.join(mem_buckets, ["band", "bhash"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        plan_rest = (
            nb.join(reopened["buckets"], ["band", "bhash"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Bucketed: true" in plan_rest
        n_mem = plan_mem.count("Exchange hashpartitioning")
        n_rest = plan_rest.count("Exchange hashpartitioning")
        assert (n_mem, n_rest) == (2, 1), (n_mem, n_rest)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS mhidx.t_buckets")
        spark.sql("DROP TABLE IF EXISTS mhidx.t_sigs")


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


def _pairs_key(df):
    return {
        (int(n), int(c), float(e))
        for n, c, e in df[["new_id", "corpus_id", "est_jaccard"]].to_numpy()
    }


def test_append_equals_rebuild(spark):
    """The ingestion loop's append half: minhash_append_index(corpus idx,
    batch) must yield an index whose probe results are IDENTICAL to an
    index built from scratch on corpus+batch — per-doc-independent
    signatures make incremental maintenance exact.  Covers both the
    lazy-union and the persist=True (compacting checkpoint) branches."""
    docs = _docs(spark)
    corpus, inc = _split(docs)
    # treat the increment as already-ingested; probe with a THIRD batch
    probe_batch = docs.filter(F.col("doc_id").isin([1, 7, 115])).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    rebuilt = MHI.minhash_build_index(
        corpus.unionByName(inc), portable=True, **PARAMS
    )
    want = _pairs_key(MHI.minhash_query_index(probe_batch, rebuilt).toPandas())
    assert want, "probe batch must collide with something"
    base = MHI.minhash_build_index(corpus, portable=True, **PARAMS)
    for persist in (False, True):
        grown = MHI.minhash_append_index(base, inc, persist=persist)
        got = _pairs_key(
            MHI.minhash_query_index(probe_batch, grown).toPandas()
        )
        assert got == want, f"persist={persist}"
    # the increment-only frames carry exactly the batch's rows
    assert set(
        r["corpus_id"] for r in grown["new_sigs"].collect()
    ) == set(r["doc_id"] for r in inc.select("doc_id").collect())


def test_append_at_rest_loop(spark, tmp_path):
    """The production ingestion loop lives AT REST: write the base index
    bucketed, append a batch by writing ONLY the increment frames with
    mode='append' (same bucket spec, O(batch) rows written), re-open,
    and probe — results must equal the from-scratch rebuild."""
    docs = _docs(spark)
    corpus, inc = _split(docs)
    probe_batch = docs.filter(F.col("doc_id").isin([1, 7, 115])).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS mhapp LOCATION '{tmp_path}/mhapp'"
    )
    try:
        base = MHI.minhash_build_index(corpus, portable=True, **PARAMS)
        MHI.minhash_write_index(base, "mhapp.t", n_buckets=4)
        grown = MHI.minhash_append_index(
            MHI.minhash_read_index(spark, "mhapp.t", portable=True, **PARAMS),
            inc,
        )
        MHI.minhash_write_index(
            {"buckets": grown["new_buckets"], "sigs": grown["new_sigs"]},
            "mhapp.t", n_buckets=4, mode="append",
        )
        reopened = MHI.minhash_read_index(
            spark, "mhapp.t", portable=True, **PARAMS
        )
        got = _pairs_key(
            MHI.minhash_query_index(probe_batch, reopened).toPandas()
        )
        rebuilt = MHI.minhash_build_index(
            corpus.unionByName(inc), portable=True, **PARAMS
        )
        want = _pairs_key(
            MHI.minhash_query_index(probe_batch, rebuilt).toPandas()
        )
        assert got == want and want
    finally:
        spark.sql("DROP TABLE IF EXISTS mhapp.t_buckets")
        spark.sql("DROP TABLE IF EXISTS mhapp.t_sigs")


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


def test_frozen_census_append_uses_corpus_census(spark):
    """Appended batches hash under the FROZEN corpus census (never a
    per-batch re-census): append + probe equals a from-scratch rebuild
    over corpus+batch that applies the same frozen set via stop_frame."""
    docs = _boilerplate_docs(spark)
    corpus, inc = _split(docs)
    probe = spark.createDataFrame(
        pd.DataFrame([(500, docs.filter(F.col("doc_id") == 3)
                       .collect()[0]["text"])], columns=["doc_id", "text"])
    )
    idx = MHI.minhash_build_index(corpus, portable=True, max_df=0.25, **PARAMS)
    grown = MHI.minhash_append_index(idx, inc)
    got = _pairs_set(MHI.minhash_query_index(probe, grown).toPandas())
    rebuilt = MHI.minhash_build_index(
        corpus.unionByName(inc), portable=True, stop_frame=idx["stop"], **PARAMS
    )
    want = _pairs_set(MHI.minhash_query_index(probe, rebuilt).toPandas())
    assert got == want and want


def test_census_and_stop_frame_are_mutually_exclusive(spark):
    docs = _boilerplate_docs(spark)
    corpus, _ = _split(docs)
    idx = MHI.minhash_build_index(corpus, portable=True, max_df=0.25, **PARAMS)
    import pytest

    with pytest.raises(ValueError, match="not both"):
        MHI.minhash_build_index(
            corpus, portable=True, max_df=0.25, stop_frame=idx["stop"], **PARAMS
        )
    with pytest.raises(ValueError, match="not both"):
        S.minhash_signatures(
            corpus, max_df=0.25, stop_frame=idx["stop"]
        )


# ------------------------------------------------------- at-rest meta


def test_at_rest_meta_roundtrip_and_validation(spark, tmp_path):
    """The hash-family params and the frozen stop set are INDEX DATA:
    written with it, read back without caller args, and validated
    against any explicitly passed value (advisor r11: a silent mismatch
    yields empty collisions, not an error)."""
    import pytest

    docs = _boilerplate_docs(spark)
    corpus, inc = _split(docs)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS mhmeta LOCATION '{tmp_path}/mh'")
    try:
        idx = MHI.minhash_build_index(
            corpus, portable=True, max_df=0.25, **PARAMS
        )
        MHI.minhash_write_index(idx, "mhmeta.t", n_buckets=4)
        # read back with NO params: everything comes from {prefix}_meta
        reopened = MHI.minhash_read_index(spark, "mhmeta.t")
        for k in ("shingle_k", "num_hashes", "bands", "seed", "portable"):
            assert reopened[k] == (idx[k] if k != "portable" else True)
        assert reopened["stop"] is not None
        got = _pairs_set(MHI.minhash_query_index(inc, reopened).toPandas())
        want = _pairs_set(MHI.minhash_query_index(inc, idx).toPandas())
        assert got == want and want
        # explicit args must match the at-rest meta
        with pytest.raises(ValueError, match="contradict"):
            MHI.minhash_read_index(spark, "mhmeta.t", num_hashes=64)
        # appending rows hashed under a different family must refuse
        other = MHI.minhash_build_index(
            inc, portable=True, num_hashes=8, bands=4, shingle_k=3, seed=42
        )
        with pytest.raises(ValueError, match="do not match"):
            MHI.minhash_write_index(other, "mhmeta.t", n_buckets=4,
                                    mode="append")
        # overwriting with an uncensused index drops the stale stop set
        plain = MHI.minhash_build_index(corpus, portable=True, **PARAMS)
        MHI.minhash_write_index(plain, "mhmeta.t", n_buckets=4)
        assert MHI.minhash_read_index(spark, "mhmeta.t")["stop"] is None
    finally:
        for t in ("t_buckets", "t_sigs", "t_meta", "t_stop"):
            spark.sql(f"DROP TABLE IF EXISTS mhmeta.{t}")


def test_compact_index_preserves_probe_and_shrinks_files(spark, tmp_path):
    """Append-mode writes land one file set per batch; compaction must
    rewrite into ONE set per table (same bucket spec — the probe plan
    and its results must be identical before/after)."""
    import glob

    docs = _docs(spark)
    corpus, inc = _split(docs)
    half = inc.filter(F.col("doc_id") < 110)
    rest = inc.filter(F.col("doc_id") >= 110)
    probe = docs.filter(F.col("doc_id").isin([1, 7, 115])).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    wh = f"{tmp_path}/mhcmp"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS mhcmp LOCATION '{wh}'")
    try:
        base = MHI.minhash_build_index(corpus, portable=True, **PARAMS)
        MHI.minhash_write_index(base, "mhcmp.t", n_buckets=4)
        for batch in (half, rest):
            grown = MHI.minhash_append_index(
                MHI.minhash_read_index(spark, "mhcmp.t"), batch
            )
            MHI.minhash_write_index(
                {"buckets": grown["new_buckets"], "sigs": grown["new_sigs"]},
                "mhcmp.t", n_buckets=4, mode="append",
            )
        n_before = len(glob.glob(f"{wh}/t_buckets/*.parquet"))
        want = _pairs_key(
            MHI.minhash_query_index(
                probe, MHI.minhash_read_index(spark, "mhcmp.t")
            ).toPandas()
        )
        MHI.minhash_compact_index(spark, "mhcmp.t", n_buckets=4)
        n_after = len(glob.glob(f"{wh}/t_buckets/*.parquet"))
        assert n_after < n_before and n_after <= 4
        reopened = MHI.minhash_read_index(spark, "mhcmp.t")
        got = _pairs_key(MHI.minhash_query_index(probe, reopened).toPandas())
        assert got == want and want
        # params still come from the untouched meta table
        assert reopened["num_hashes"] == PARAMS["num_hashes"]
    finally:
        for t in ("t_buckets", "t_sigs", "t_meta", "t_stop"):
            spark.sql(f"DROP TABLE IF EXISTS mhcmp.{t}")


def test_append_after_compact_equals_rebuild(spark, tmp_path):
    """Compaction mid-ingestion must compose with later appends (the
    r13 lifecycle-loop shape, ee5f3ba:tools/scale_probe_index_lifecycle.py):
    build -> append -> COMPACT -> append again -> probe must equal a
    from-scratch rebuild over the same docs — compaction only changes
    the file layout, so rows appended after it land in the same bucket
    spec and the evidence set is unchanged."""
    docs = _docs(spark)
    corpus, inc = _split(docs)
    half = inc.filter(F.col("doc_id") < 110)
    rest = inc.filter(F.col("doc_id") >= 110)
    probe = docs.filter(F.col("doc_id").isin([1, 7, 115])).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    wh = f"{tmp_path}/mhcmp2"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS mhcmp2 LOCATION '{wh}'")
    try:
        base = MHI.minhash_build_index(corpus, portable=True, **PARAMS)
        MHI.minhash_write_index(base, "mhcmp2.t", n_buckets=4)
        grown = MHI.minhash_append_index(
            MHI.minhash_read_index(spark, "mhcmp2.t"), half
        )
        MHI.minhash_write_index(
            {"buckets": grown["new_buckets"], "sigs": grown["new_sigs"]},
            "mhcmp2.t", n_buckets=4, mode="append",
        )
        MHI.minhash_compact_index(spark, "mhcmp2.t", n_buckets=4)
        grown = MHI.minhash_append_index(
            MHI.minhash_read_index(spark, "mhcmp2.t"), rest
        )
        MHI.minhash_write_index(
            {"buckets": grown["new_buckets"], "sigs": grown["new_sigs"]},
            "mhcmp2.t", n_buckets=4, mode="append",
        )
        got = _pairs_key(
            MHI.minhash_query_index(
                probe, MHI.minhash_read_index(spark, "mhcmp2.t")
            ).toPandas()
        )
        rebuilt = MHI.minhash_build_index(
            corpus.unionByName(inc), portable=True, **PARAMS
        )
        want = _pairs_key(
            MHI.minhash_query_index(probe, rebuilt).toPandas()
        )
        assert got == want and want
    finally:
        for t in ("t_buckets", "t_sigs", "t_meta", "t_stop"):
            spark.sql(f"DROP TABLE IF EXISTS mhcmp2.{t}")
