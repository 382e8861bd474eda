"""Flat-chain exact scoring (cosine_topk, rerank_exact) on the inputs a
dim peek cannot read off the first row: a null first vector, an empty
corpus, and a streaming frame."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.errors import AnalysisException

from financial_data_science_spark.functions import similarity as S

SCHEMA = "vec_id long, embedding array<double>"


@pytest.fixture(scope="module")
def corpus(spark):
    """Vector 0 is null and comes first; vectors 1..11 are 8-dim."""
    rng = np.random.default_rng(5)
    vecs = {i: rng.normal(size=8) for i in range(1, 12)}
    df = spark.createDataFrame(
        [(0, None)] + [(i, v.tolist()) for i, v in vecs.items()], SCHEMA
    )
    assert df.first()["embedding"] is None
    return df, vecs


def _cos(a, b):
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def _sqdist(a, b):
    return float((a - b) @ (a - b))


def _check(rows, vecs, want, tol):
    """Pairs touching the null vector 0 score null; the rest match
    ``want`` over the numpy vectors."""
    for r in rows:
        if 0 in (r.query_id, r.neighbor_id):
            assert r.score is None
        else:
            exact = want(vecs[r.query_id], vecs[r.neighbor_id])
            assert r.score == pytest.approx(exact, abs=tol)


def test_null_first_vector_scores_null_and_rest_match_numpy(spark, corpus):
    df, vecs = corpus
    assert S._vec_dim(df, "embedding") == 8
    top = S.cosine_topk(df, df, k=20).collect()
    pairs = {(r.query_id, r.neighbor_id) for r in top}
    assert len(top) == len(pairs) == 12 * 11  # null-scored pairs included
    _check(top, vecs, _cos, 1e-12)
    cand = spark.createDataFrame(
        sorted(pairs), "query_id long, neighbor_id long"
    )
    for metric, want in (("cosine", _cos), ("l2", _sqdist)):
        out = S.rerank_exact(cand, df, k=20, metric=metric).collect()
        assert len(out) == len(pairs)
        # 6dp-rounded scores
        _check(out, vecs, want, 1.5e-6)


def test_empty_corpus_returns_empty_frame(spark, corpus):
    df, _ = corpus
    empty = spark.createDataFrame([], SCHEMA)
    assert S._vec_dim(empty, "embedding") == 0
    top = S.cosine_topk(df, empty, k=3)
    assert top.columns == ["query_id", "neighbor_id", "score"]
    assert top.count() == 0
    cand = spark.createDataFrame([(1, 2)], "query_id long, neighbor_id long")
    assert S.rerank_exact(cand, empty, k=3).count() == 0


def test_streaming_corpus_raises(spark, corpus, tmp_path):
    df, _ = corpus
    df.write.parquet(str(tmp_path / "emb"))
    stream = spark.readStream.schema(SCHEMA).parquet(str(tmp_path / "emb"))
    with pytest.raises(AnalysisException):
        S.cosine_topk(df, stream, k=3)
