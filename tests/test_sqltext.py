"""The kernels build their Catalyst trees from SQL text
(functions/sqltext.py): building them must stay cheap in Py4J round
trips, and column names that need quoting must give the same rows as
plain names."""

from __future__ import annotations

from pyspark.sql import functions as F

from financial_data_science_spark.functions import minhash_index as M
from financial_data_science_spark.functions import similarity as S
from financial_data_science_spark.functions.semdedup import semantic_dedup_pairs
from financial_data_science_spark.sources.testdata import load_table
from tests.test_layout import SF
from tests.test_measure import _measure


def test_kernel_build_gateway_budget(spark):
    """Building (not running) the MinHash signature aggregate, its band
    explode, a 4x16 centroid argmax and a dim-16 flat dot on a tiny
    frame made 6,538-8,452 Py4J round trips when every expression was
    composed from Column calls, and 250-347 when each is one SQL text
    (4 vCPUs, three builds each; the spread is Py4J's object-release
    calls).  The budget is a fifth of the Column-built count."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w")],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(16)]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    cent = [(c, [float((c + j) % 3) for j in range(16)]) for c in range(1, 5)]

    def build():
        sig = S.minhash_signatures(docs)
        S.lsh_banded(sig, "doc_id", "new_id", 32, 8, False)
        S._assign_clusters(emb, "embedding", cent)
        flat = emb.selectExpr(
            *S._flat_cols("embedding", "l", 16),
            *S._flat_cols("embedding", "r", 16),
        )
        flat.selectExpr(f"{S._flat_dot('l', 'r', 16)} AS d")

    build()  # first use loads JVM classes and caches functions
    with _measure().gateway_calls() as gw:
        build()
    assert 0 < gw.n <= 6538 // 5, gw.n


def _rows(df) -> set:
    return {tuple(r) for r in df.collect()}


def test_quoted_names_match_plain_names(spark):
    """A vector column and a text column whose names hold a space go
    through the kernels' SQL text backtick-quoted: semdedup pairs,
    the MinHash index build + probe and the IVF index build + probe
    give the same rows as under plain names."""
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    spaced = emb.withColumnRenamed("embedding", "emb vec")
    want = _rows(semantic_dedup_pairs(emb, nlist=4, iters=2, tau=0.3))
    assert want and want == _rows(
        semantic_dedup_pairs(spaced, vec_col="emb vec", nlist=4, iters=2, tau=0.3)
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    sdocs = docs.withColumnRenamed("text", "doc text")
    old, new = F.col("doc_id") % 3 != 0, F.col("doc_id") % 3 == 0
    plain = M.minhash_query_index(
        docs.filter(new), M.minhash_build_index(docs.filter(old))
    )
    quoted = M.minhash_query_index(
        sdocs.filter(new),
        M.minhash_build_index(sdocs.filter(old), text_col="doc text"),
        text_col="doc text",
    )
    got = _rows(quoted)
    assert got and got == _rows(plain)

    q = F.col("vec_id") < 20
    plain = S.ivf_query_index(emb.filter(q), S.ivf_build_index(emb, nlist=4, iters=2))
    quoted = S.ivf_query_index(
        spaced.filter(q),
        S.ivf_build_index(spaced, vec_col="emb vec", nlist=4, iters=2),
    )
    got = _rows(quoted)
    assert got and got == _rows(plain)
