"""Dedup/similarity operators: planted near-dups, numpy cosine oracle."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from financial_data_science_spark.functions import similarity as S


def _docs(spark):
    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(200)]
    base = [" ".join(rng.choice(vocab, 60)) for _ in range(30)]
    rows = [(i, t) for i, t in enumerate(base)]
    # planted near-dups: copy with small edits
    for j, i in enumerate([0, 5, 10]):
        words = base[i].split()
        words[3] = "edited"
        rows.append((100 + j, " ".join(words)))
    # exact duplicate
    rows.append((200, base[1]))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup(spark):
    docs = _docs(spark)
    out = S.exact_dedup(docs).toPandas()
    assert out["n_copies"].sum() == 34
    assert (out[out.n_copies == 2]["doc_id"] == 1).all()


def test_jaccard_finds_planted_dups(spark):
    docs = _docs(spark)
    pairs = S.jaccard_pairs(docs, threshold=0.5).toPandas()
    found = {tuple(sorted(p)) for p in pairs[["left_id", "right_id"]].to_numpy()}
    assert {(0, 100), (5, 101), (10, 102), (1, 200)} <= found


def test_prefix_strategy_matches_lsh_on_planted(spark):
    docs = _docs(spark)
    lsh = S.jaccard_pairs(docs, threshold=0.5, strategy="lsh").toPandas()
    exact = S.jaccard_pairs(docs, threshold=0.5, strategy="prefix").toPandas()
    key = lambda df: sorted(map(tuple, df[["left_id", "right_id"]].to_numpy()))
    assert key(lsh) == key(exact)
    l = lsh.sort_values(["left_id", "right_id"])["jaccard"].to_numpy()
    e = exact.sort_values(["left_id", "right_id"])["jaccard"].to_numpy()
    np.testing.assert_allclose(l, e, rtol=1e-12)


def test_minhash_estimates_jaccard(spark):
    docs = _docs(spark)
    cand = S.minhash_candidates(docs, num_hashes=64, bands=32).toPandas()
    exact = S.jaccard_pairs(docs, threshold=0.3, strategy="prefix").toPandas()
    m = cand.merge(exact, on=["left_id", "right_id"])
    assert len(m) >= 4
    np.testing.assert_allclose(m["est_jaccard"], m["jaccard"], atol=0.25)


def test_simhash_near_dups_low_hamming(spark):
    docs = _docs(spark)
    sig = S.simhash_signatures(docs).toPandas().set_index("doc_id")["simhash"]
    h = lambda a, b: bin(int(sig[a]) ^ int(sig[b])).count("1")
    assert h(1, 200) == 0
    assert h(0, 100) <= 12
    rand = [h(i, j) for i in range(5) for j in range(10, 15)]
    assert np.mean(rand) > 20


def test_simhash_pairs_production_matches_brute_force(spark):
    """The xxhash64 path has no SQL oracle: check its band blocking and
    Hamming filter against every pair of its own fingerprints."""
    docs = _docs(spark)
    fp = dict(S.simhash_signatures(docs, bits=62).select("doc_id", "simhash")
              .toPandas().to_numpy().tolist())
    want = set()
    for a in fp:
        for b in fp:
            if a < b:
                x, y = int(fp[a]), int(fp[b])
                shared = any((x >> 16 * k) & 0xFFFF == (y >> 16 * k) & 0xFFFF
                             for k in range(4))
                ham = bin(x ^ y).count("1")
                if shared and ham <= 6:
                    want.add((a, b, ham))
    got = {tuple(map(int, r)) for r in S.simhash_pairs(docs).collect()}
    assert (1, 200, 0) in want
    assert got == want


def test_lsh_bands_must_divide_num_hashes(spark):
    # 64 hashes in 24 bands would band only h0..h47 while the estimate
    # still divides by 64
    docs = _docs(spark)
    with pytest.raises(ValueError, match="must divide"):
        S.minhash_candidates(docs, num_hashes=64, bands=24)


def test_minhash_band_keys_rejects_rows_per_band_other_than_two(spark):
    docs = _docs(spark)
    with pytest.raises(ValueError, match="rows_per_band=2"):
        S.minhash_band_keys(docs, num_hashes=12, bands=4)


def test_cosine_topk_vs_numpy(spark):
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(40), "embedding": list(map(list, vecs))})
    df = spark.createDataFrame(pdf)
    got = S.cosine_topk(df.filter(F.col("vec_id") < 5), df, k=3).toPandas()
    v = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = v @ v.T
    for q in range(5):
        s = sims[q].copy()
        s[q] = -np.inf
        want = set(np.argsort(-s)[:3])
        have = set(got[got.query_id == q]["neighbor_id"])
        assert have == want


def test_hyperplane_bucket_locality(spark):
    rng = np.random.default_rng(13)
    base = rng.normal(size=16).astype(np.float32)
    near = base + rng.normal(scale=0.01, size=16).astype(np.float32)
    far = rng.normal(size=16).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": [0, 1, 2], "embedding": [list(base), list(near), list(far)]}
    )
    out = (
        spark.createDataFrame(pdf)
        .select("vec_id", S.hyperplane_bucket(F.col("embedding")).alias("b"))
        .toPandas()
        .set_index("vec_id")["b"]
    )
    assert out[0] == out[1]


def test_ivf_topk_recall_vs_bruteforce(spark):
    from pyspark.sql import functions as F

    from financial_data_science_spark.functions.similarity import (
        cosine_topk,
        ivf_build_index,
        ivf_topk,
    )
    from financial_data_science_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(queries, emb, k=3).toPandas()
    approx = ivf_topk(queries, emb, k=3, nlist=8, nprobe=2, iters=3).toPandas()

    # within-list results are exact up to ivf_topk's deliberate pre-rank
    # rounding of the score to the 6dp output grid (round-before-argmax
    # discipline): every IVF hit that the brute-force top-3 also contains
    # must carry the same score on that grid
    m = approx.merge(exact, on=["query_id", "neighbor_id"], suffixes=("_a", "_e"))
    assert (abs(m["score_a"] - m["score_e"]) <= 5e-7).all()

    # recall@3 with nprobe=2/nlist=8 on clustered synthetic data
    hits = len(m)
    total = len(exact)
    assert hits / total >= 0.5, f"recall {hits}/{total}"

    # quantizer sanity: every centroid row is a finite dim-64 vector
    cents = ivf_build_index(emb, nlist=8, iters=3)["centroids"]
    clusters = [c for c, _ in cents]
    assert len(cents) <= 8 and len(set(clusters)) == len(clusters)
    assert all(len(cv) == 64 and all(map(math.isfinite, cv)) for _, cv in cents)


def test_dedup_canonical_keep_structure(spark):
    from financial_data_science_spark.queries import Q

    out = Q["dedup_canonical_keep"](spark, "/root/testdata/sf0.001").toPandas()
    assert (out["members"] >= 2).all()          # singletons are not clusters
    assert out["keep_id"].is_unique
    # the representative belongs to its own cluster: comp is the min id,
    # so keep_id >= comp always
    assert (out["keep_id"] >= out["comp"]).all()


def test_document_filter_gate_verdicts(spark):
    import pandas as pd

    from financial_data_science_spark.functions.text import tokens  # noqa: F401
    from financial_data_science_spark.queries import Q

    out = Q["document_filter_gate"](spark, "/root/testdata/sf0.001").toPandas()
    assert set(out["verdict"]) <= {"keep", "too_short", "repetitive", "low_alpha"}
    assert (out["verdict"] == "keep").mean() > 0.5  # synthetic corpus is mostly clean


def test_centroid_literal_expr_matches_lit_built_tree(spark):
    """_centroid_literal spells its array<struct> as ONE SQL string
    (the nested-lit form costs nlist x dim Py4J round trips per Lloyd
    sweep); repr-doubles must round-trip the SQL parser bit-exactly,
    including subnormals, negative-zero-sum artifacts, and DBL_MAX."""
    vals = [
        1e-05, -3.3306690738754696e-16, 0.1 + 0.2, 123456.789,
        2.0 ** -1074, 1.7976931348623157e308, -0.0, 42.0,
    ]
    rows = [(1, vals), (2, [-v for v in vals])]
    lit_built = F.array(
        *[
            F.struct(
                F.lit(int(c)).alias("cluster"),
                F.array(*[F.lit(float(x)) for x in cv]).alias("cv"),
                F.lit(S._fold_norm(cv)).alias("cnorm"),
            )
            for c, cv in rows
        ]
    )
    df = spark.range(1).select(
        lit_built.alias("o"), F.expr(S._centroid_literal(rows)).alias("n")
    )
    assert df.select((F.col("o") == F.col("n")).alias("eq")).first()["eq"]


def test_stop_shingle_filter_kills_boilerplate_buckets(spark):
    """max_df drops ubiquitous shingles BEFORE hashing: with a license
    header planted on every doc, the unfiltered LSH floods with spurious
    candidates (every doc shares the header's shingles); with max_df the
    planted true near-dups survive and the spurious mass is gone."""
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(500)]
    header = "copyright notice all rights reserved by the example corp"
    base = [
        header + " " + " ".join(rng.choice(vocab, 40)) for _ in range(40)
    ]
    rows = [(i, t) for i, t in enumerate(base)]
    for j, i in enumerate([0, 7]):  # planted near-dups (one word edited)
        words = base[i].split()
        words[-1] = "edited"
        rows.append((100 + j, " ".join(words)))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    noisy = S.minhash_candidates(docs, num_hashes=64, bands=32).toPandas()
    clean = S.minhash_candidates(
        docs, num_hashes=64, bands=32, max_df=0.5
    ).toPandas()
    planted = {(0, 100), (7, 101)}
    got = {tuple(sorted(p)) for p in clean[["left_id", "right_id"]].to_numpy()}
    assert planted <= got
    # the header shingles collide every doc pair in the unfiltered run;
    # the df filter must collapse that candidate mass
    assert len(clean) < len(noisy) / 4, (len(clean), len(noisy))
    # absolute-count form agrees with the fraction form
    clean_abs = S.minhash_candidates(
        docs, num_hashes=64, bands=32, max_df=21
    ).toPandas()
    assert len(clean_abs) == len(clean)


def test_pq_clustered_data_recall_and_numpy_replay(spark):
    """PQ on data with real cluster structure: vectors drawn around 4
    well-separated centers must retrieve same-cluster neighbors (recall
    is quantization-bound on random data, but structure this strong must
    survive m=4/k=8 codes); ADC distances must equal the numpy replay of
    the same codebooks+codes exactly (after the 6dp grid)."""
    rng = np.random.default_rng(42)
    centers = rng.normal(size=(4, 64)) * 5
    rows = []
    for i in range(200):
        c = i % 4
        rows.append((i, (centers[c] + rng.normal(size=64) * 0.3).tolist()))
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    out = S.pq_topk(
        emb.filter(F.col("vec_id") < 8), emb, dim=64, m=4, k=8, topk=5,
        iters=2,
    ).toPandas()
    # every retrieved neighbor of query q must be in q's cluster
    same = (out.neighbor_id % 4 == out.query_id % 4).mean()
    assert same >= 0.95, same

    # ADC replay: recompute approx_d2 from the trained codebooks + codes
    books = S.pq_train(emb, dim=64, m=4, k=8, iters=2)
    codes = {
        r["vec_id"]: list(r["codes"]) for r in S.pq_encode(emb, books).collect()
    }
    E = {i: np.array(v) for i, v in rows}
    B = [dict(b) for b in books]
    for r in out.head(20).itertuples():
        d2 = sum(
            float(
                np.sum(
                    (E[r.query_id][j * 16 : (j + 1) * 16]
                     - np.array(B[j][codes[r.neighbor_id][j]])) ** 2
                )
            )
            for j in range(4)
        )
        assert abs(r.approx_d2 - round(d2, 6)) < 1e-9, (r, d2)


def test_pq_vec_literal_survives_empty_clusters(spark):
    """_vec_array_literal positions centroids at their cluster id even
    when Lloyd empties a cluster (gap slots hold empty arrays that codes
    can never reference)."""
    lit = F.expr(S._vec_array_literal([(1, [1.0, 2.0]), (3, [5.0, 6.0])]))
    got = spark.range(1).select(lit.alias("a")).first()["a"]
    assert got == [[1.0, 2.0], [], [5.0, 6.0]]
    assert spark.range(1).select(
        F.element_at(lit, 3).alias("c")
    ).first()["c"] == [5.0, 6.0]


def test_ivfpq_composition_on_clustered_data(spark):
    """IVFPQ on structured data: retrieved neighbors are same-cluster,
    and every neighbor lies in one of the query's probed coarse lists
    (the composition's defining property: candidates come ONLY from
    probed lists, scored by ADC)."""
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 64)) * 5
    rows = [
        (i, (centers[i % 4] + rng.normal(size=64) * 0.3).tolist())
        for i in range(200)
    ]
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    out = S.ivfpq_topk(
        emb.filter(F.col("vec_id") < 8), emb, dim=64, nlist=4, nprobe=1,
        m=4, k=8, topk=5, iters=2,
    ).toPandas()
    assert (out.neighbor_id % 4 == out.query_id % 4).mean() >= 0.95
    # probed-list restriction: recompute the binning with the same
    # deterministic quantizer and check neighbors share the query's bin
    cent = S._ivf_train_rows(emb, nlist=4, iters=2)
    bins = {
        r["vec_id"]: r["cluster"]
        for r in S._assign_clusters(emb, "embedding", cent).collect()
    }
    for r in out.itertuples():
        assert bins[r.neighbor_id] == bins[r.query_id]  # nprobe=1


def test_rerank_exact_refines_candidates(spark):
    """rerank_exact: output pairs are a subset of the candidates, scores
    equal the exact numpy cosine, and ranking is by exact (not
    approximate) score."""
    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(size=16).tolist()) for i in range(50)]
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    cand = spark.createDataFrame(
        pd.DataFrame(
            [(0, n) for n in range(1, 11)] + [(1, n) for n in range(2, 12)],
            columns=["query_id", "neighbor_id"],
        )
    )
    out = S.rerank_exact(cand, emb, k=3, metric="cosine").toPandas()
    E = {i: np.array(v) for i, v in rows}
    cset = {(r.query_id, r.neighbor_id) for r in cand.toPandas().itertuples()}
    for q in (0, 1):
        got = out[out.query_id == q].sort_values("score", ascending=False)
        assert len(got) == 3
        assert {(q, n) for n in got.neighbor_id} <= cset
        pool = [n for (qq, n) in cset if qq == q]
        exact = sorted(
            pool,
            key=lambda n: (
                -round(float(E[q] @ E[n] / (np.linalg.norm(E[q]) * np.linalg.norm(E[n]))), 6),
                n,
            ),
        )[:3]
        assert got.neighbor_id.tolist() == exact
    l2 = S.rerank_exact(cand, emb, k=3, metric="l2").toPandas()
    assert (l2.groupby("query_id").score.apply(lambda s: s.is_monotonic_increasing)).all()


def test_residual_ivfpq_quantizes_tighter_than_raw(spark):
    """by_residual's reason to exist: on clustered data the residuals
    concentrate near zero, so ADC with the same (m, k) code budget
    approximates true distances tighter than raw-vector PQ.  Compare
    mean |approx_d2 - exact_d2| on the same queries."""
    # MORE centers than PQ centroids (16 > k=8): raw-vector PQ cannot
    # cover the center positions, while residuals collapse them all to
    # a small cloud around zero that k=8 quantizes well
    rng = np.random.default_rng(13)
    centers = rng.normal(size=(16, 64)) * 5
    rows = [
        (i, (centers[i % 16] + rng.normal(size=64) * 0.2).tolist())
        for i in range(320)
    ]
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    E = {i: np.array(v) for i, v in rows}
    q = emb.filter(F.col("vec_id") < 6)

    def mean_err(df):
        pdf = df.toPandas()
        errs = [
            abs(
                r.approx_d2
                - float(np.sum((E[r.query_id] - E[r.neighbor_id]) ** 2))
            )
            for r in pdf.itertuples()
        ]
        return float(np.mean(errs))

    raw = mean_err(
        S.ivfpq_topk(q, emb, dim=64, nlist=16, nprobe=2, m=4, k=8, topk=5,
                     iters=2)
    )
    res = mean_err(
        S.ivfpq_residual_topk(q, emb, dim=64, nlist=16, nprobe=2, m=4, k=8,
                              topk=5, iters=2)
    )
    assert res < raw * 0.5, (res, raw)


def test_sq8_roundtrip_and_recall(spark):
    """SQ8 invariants: codes in [0,255]; decode error per dimension is
    bounded by half a quantization step; constant dimensions decode
    exactly; recall vs exact cosine top-3 is near-perfect (8-bit affine
    loses almost nothing)."""
    rng = np.random.default_rng(21)
    M = rng.normal(size=(120, 16))
    M[:, 5] = 3.25  # constant dimension
    rows = [(i, M[i].tolist()) for i in range(120)]
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    mins, maxs = S._dim_stats(emb, "embedding")
    coded = S.sq8_encode(emb, mins, maxs).toPandas()
    deq = (
        S.sq8_encode(emb, mins, maxs)
        .select("vec_id", S.sq8_dequantize(F.col("codes"), mins, maxs).alias("dv"))
        .toPandas()
    )
    for r in coded.itertuples():
        assert all(0 <= c <= 255 for c in r.codes)
    steps = [(hi - lo) / 255.0 for lo, hi in zip(mins, maxs)]
    for r in deq.itertuples():
        err = np.abs(np.array(r.dv) - M[r.vec_id])
        # census rounding (6dp) adds at most 1e-6 on top of half a step
        assert all(e <= s / 2 + 2e-6 for e, s in zip(err, steps))
        assert abs(r.dv[5] - 3.25) < 1e-6
    out = S.sq8_topk(emb.filter(F.col("vec_id") < 10), emb, k=3).toPandas()
    hits = tot = 0
    for q in range(10):
        cos = {
            n: float(M[q] @ M[n] / (np.linalg.norm(M[q]) * np.linalg.norm(M[n])))
            for n in range(120) if n != q
        }
        exact = {n for n, _ in sorted(cos.items(), key=lambda kv: (-kv[1], kv[0]))[:3]}
        got = set(out[out.query_id == q].neighbor_id)
        hits += len(exact & got); tot += 3
    assert hits / tot >= 0.9, (hits, tot)


def test_recall_at_k_semantics(spark):
    """recall_at_k: per-query overlap fraction vs exact; queries the
    approximate side missed entirely surface with recall 0; explicit k
    overrides the per-query denominator."""
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30), (3, 31)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        # q1: both right; q2: one right one wrong; q3: absent entirely
        [(1, 10), (1, 11), (2, 20), (2, 99)],
        "query_id long, neighbor_id long",
    )
    import financial_data_science_spark.functions.similarity as S

    got = {r["query_id"]: r["recall"]
           for r in S.recall_at_k(approx, exact).collect()}
    assert got == {1: 1.0, 2: 0.5, 3: 0.0}
    # explicit k=4 denominator: q1 2/4, q2 1/4, q3 0
    got4 = {r["query_id"]: r["recall"]
            for r in S.recall_at_k(approx, exact, k=4).collect()}
    assert got4 == {1: 0.5, 2: 0.25, 3: 0.0}


def test_ivf_index_split_matches_fused(spark):
    """ivf_build_index + ivf_query_index must return exactly what the
    fused ivf_topk returns (the split is a refactor, not a new
    algorithm); a persisted index serves multiple nprobe settings."""
    import numpy as np
    import pandas as pd

    import financial_data_science_spark.functions.similarity as S

    rng = np.random.RandomState(7)
    M = rng.randn(160, 8)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        pd.DataFrame(
            [(i, M[i].tolist()) for i in range(160)],
            columns=["vec_id", "embedding"],
        )
    )
    q = emb.filter(F.col("vec_id") < 8)
    fused = S.ivf_topk(q, emb, k=4, nlist=4, nprobe=2, iters=2).toPandas()
    index = S.ivf_build_index(emb, nlist=4, iters=2, persist=True)
    split = S.ivf_query_index(q, index, k=4, nprobe=2).toPandas()
    key = ["query_id", "neighbor_id"]
    pd.testing.assert_frame_equal(
        fused.sort_values(key).reset_index(drop=True),
        split.sort_values(key).reset_index(drop=True),
    )
    # same index answers a different nprobe without retraining
    n1 = S.ivf_query_index(q, index, k=4, nprobe=1).count()
    assert n1 > 0


def test_ivf_filtered_search_matches_postfilter_topk(spark):
    """Filtered IVF search (label payload + candidate_filter BEFORE the
    top-k window) must (a) return only predicate-satisfying rows, (b)
    fill k slots per query from the surviving candidates — i.e. equal
    re-ranking the FULL unfiltered in-list candidate set and taking the
    best k different-label rows, not post-filtering an unfiltered
    top-k."""
    import numpy as np
    import pandas as pd

    import financial_data_science_spark.functions.similarity as S

    rng = np.random.RandomState(11)
    M = rng.randn(200, 8)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        pd.DataFrame(
            [(i, M[i].tolist(), i % 3) for i in range(200)],
            columns=["vec_id", "embedding", "label"],
        )
    )
    q = emb.filter(F.col("vec_id") < 6).select(
        "vec_id", "embedding", F.col("label").alias("qlabel")
    )
    index = S.ivf_build_index(emb, nlist=4, iters=2, persist=True,
                              payload=("label",))
    got = S.ivf_query_index(
        q, index, k=3, nprobe=2, qkeep=("qlabel",),
        candidate_filter=F.col("label") != F.col("qlabel"),
    ).toPandas()
    assert (got["label"] != got["qlabel"]).all()
    assert (got.groupby("query_id").size() == 3).all()
    # oracle: unfiltered candidates over the SAME probed lists with a
    # huge k, post-filter, take best 3 per query
    allc = S.ivf_query_index(q, index, k=10**6, nprobe=2,
                             qkeep=("qlabel",)).toPandas()
    allc = allc[allc["label"] != allc["qlabel"]]
    want = (
        allc.sort_values(["query_id", "score", "neighbor_id"],
                         ascending=[True, False, True])
        .groupby("query_id").head(3)
    )
    key = ["query_id", "neighbor_id"]
    pd.testing.assert_frame_equal(
        got.sort_values(key)[key].reset_index(drop=True),
        want.sort_values(key)[key].reset_index(drop=True),
    )


def test_logistic_irls_matches_numpy_reference(spark):
    """classifier.logistic_irls (distributed BIGINT-quantized sums +
    adjugate solve) must land within 1e-3 of an unquantized pure-numpy
    IRLS on the same data, be near-stationary by iteration 3, and
    logistic_score must rank by the fitted linear index."""
    import numpy as np
    import pandas as pd

    from financial_data_science_spark.functions.classifier import (
        logistic_irls,
        logistic_score,
    )

    rng = np.random.RandomState(3)
    n = 4000
    x1 = rng.randn(n)
    x2 = rng.randn(n)
    eta = 0.5 + 1.2 * x1 - 0.7 * x2
    y = (rng.rand(n) < 1 / (1 + np.exp(-eta))).astype(float)
    df = spark.createDataFrame(
        pd.DataFrame({"y": y, "x1": x1, "x2": x2})
    ).repartition(8)

    traj = logistic_irls(df, ["x1", "x2"], "y", iters=3)
    got = np.array([traj[-1]["b0"], traj[-1]["b1"], traj[-1]["b2"]])

    # pure-numpy IRLS reference, no quantization
    X = np.column_stack([np.ones(n), x1, x2])
    b = np.zeros(3)
    for _ in range(3):
        e = X @ b
        mu = 1 / (1 + np.exp(-e))
        w = mu * (1 - mu)
        z = e + (y - mu) / w
        b = np.linalg.solve(X.T @ (X * w[:, None]), X.T @ (w * z))
    assert np.abs(got - b).max() < 1e-3, (got, b)

    step = np.array([traj[2][k] - traj[1][k] for k in ("b0", "b1", "b2")])
    assert np.abs(step).max() < 2e-1  # near-stationary by iteration 3

    scored = logistic_score(df, ["x1", "x2"],
                            (got[0], got[1], got[2])).toPandas()
    lin = got[0] + got[1] * scored["x1"] + got[2] * scored["x2"]
    assert (np.argsort(scored["prob"].values) == np.argsort(lin.values)).all()


def test_ldlt_solve_steps_matches_numpy():
    """The generated LDL^T assignment sequence (the general-k IRLS
    solve AND its oracle — one generator emits both sides) must solve
    random SPD systems to numpy accuracy for n = 2..6."""
    import numpy as np

    from financial_data_science_spark.functions.classifier import (
        _eval_steps,
        ldlt_solve_steps,
    )

    rng = np.random.RandomState(7)
    for n in range(2, 7):
        G = rng.randn(n, n)
        A = G @ G.T + n * np.eye(n)  # SPD
        v = rng.randn(n)
        env = {}
        for i in range(n):
            for j in range(i, n):
                env[f"a{i + 1}{j + 1}"] = A[i, j]
            env[f"v{i + 1}"] = v[i]
        out = _eval_steps(ldlt_solve_steps(n), env)
        got = np.array([out[f"b{i + 1}"] for i in range(n)])
        want = np.linalg.solve(A, v)
        assert np.abs(got - want).max() < 1e-10, (n, got, want)


def test_logistic_irls_k3_matches_numpy_reference(spark):
    """General-k path (k=3 -> 4x4 LDL^T driver solve): must land within
    1e-3 of unquantized numpy IRLS, and logistic_score must enforce the
    beta-length contract."""
    import numpy as np
    import pandas as pd
    import pytest

    from financial_data_science_spark.functions.classifier import (
        logistic_irls,
        logistic_score,
    )

    rng = np.random.RandomState(11)
    n = 4000
    X = np.column_stack([np.ones(n), rng.randn(n), rng.randn(n),
                         rng.randn(n)])
    eta = X @ np.array([0.3, 1.0, -0.6, 0.4])
    y = (rng.rand(n) < 1 / (1 + np.exp(-eta))).astype(float)
    df = spark.createDataFrame(
        pd.DataFrame({"y": y, "x1": X[:, 1], "x2": X[:, 2],
                      "x3": X[:, 3]})
    ).repartition(8)

    traj = logistic_irls(df, ["x1", "x2", "x3"], "y", iters=3)
    got = np.array([traj[-1][f"b{i}"] for i in range(4)])

    b = np.zeros(4)
    for _ in range(3):
        e = X @ b
        mu = 1 / (1 + np.exp(-e))
        w = mu * (1 - mu)
        z = e + (y - mu) / w
        b = np.linalg.solve(X.T @ (X * w[:, None]), X.T @ (w * z))
    assert np.abs(got - b).max() < 1e-3, (got, b)

    with pytest.raises(ValueError, match="coefficients"):
        logistic_score(df, ["x1", "x2", "x3"], (0.0, 1.0))


def test_logistic_model_store_roundtrip(spark, tmp_path):
    """save_model/load_model through the parquet Store must round-trip
    the betas VALUE-EXACT (the 6dp-grid floats are stored as doubles —
    any drift corrupts downstream score gates), the feature names in
    training order, and the full trajectory."""
    import numpy as np
    import pandas as pd

    from financial_data_science_spark.datasets.lookup import Store
    from financial_data_science_spark.functions.classifier import (
        load_model,
        logistic_irls,
        save_model,
    )

    rng = np.random.RandomState(13)
    n = 1000
    x1, x2, x3 = rng.randn(n), rng.randn(n), rng.randn(n)
    y = (rng.rand(n) < 1 / (1 + np.exp(-(0.2 + x1 - x2 + 0.5 * x3)))
         ).astype(float)
    df = spark.createDataFrame(
        pd.DataFrame({"y": y, "x1": x1, "x2": x2, "x3": x3})
    )
    traj = logistic_irls(df, ["x1", "x2", "x3"], "y", iters=2)
    store = Store(str(tmp_path))
    save_model(traj, ["x1", "x2", "x3"], spark, store, "m")
    beta, feats, traj2 = load_model(spark, store, "m")
    assert feats == ["x1", "x2", "x3"]
    assert beta == tuple(traj[-1][f"b{i}"] for i in range(4))
    assert traj2 == traj


def test_hash_census_matches_string_census(spark):
    """The production (xxhash64) stop-shingle path censuses document
    frequency on the 64-bit hash with the gram string dropped at the
    explode; the kept (doc, base-hash) rows — the signature aggregate's
    entire input — must equal a reference that censuses on the STRING
    (the oracle path's key) and hashes afterward."""
    docs = _docs(spark)
    p = (1 << 31) - 1
    limit = int(0.25 * docs.count())

    # reference: string census -> anti-join -> hash
    ex_s = docs.select(
        "doc_id", F.explode(S.word_shingles("text", 3)).alias("s")
    )
    stop_s = (
        ex_s.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > limit).select("s")
    )
    want = {
        (r["doc_id"], r["h"])
        for r in ex_s.join(stop_s, "s", "left_anti")
        .select("doc_id", F.pmod(F.xxhash64("s"), F.lit(p)).alias("h"))
        .collect()
    }

    # library path: census on __h64__ (string never leaves the explode
    # projection) — recover its kept rows from the signature input by
    # re-deriving through minhash_signatures' own kept frame: the
    # h0-family min with ONE hash (a=1, b=0 is not exposed), so instead
    # compare via the full signature frame against a reference
    # signature computed from `want`
    import random

    rng = random.Random(42)
    coeffs = [(rng.randrange(1, p), rng.randrange(0, p)) for _ in range(8)]
    by_doc: dict[int, list[int]] = {}
    for d, h in want:
        by_doc.setdefault(d, []).append(h)
    want_sig = {
        (d, tuple(min((h * a + b) % p for h in hs) for a, b in coeffs))
        for d, hs in by_doc.items()
    }
    got_sig = {
        (r["doc_id"], tuple(r["__sig__"]))
        for r in S.minhash_signatures(
            docs, num_hashes=8, portable=False, max_df=0.25
        ).select("doc_id", "__sig__").collect()
    }
    assert got_sig == want_sig and len(got_sig) > 0


def test_semantic_dedup_matches_numpy_blocking(spark):
    """SemDeDup blocking (catalog `semantic_dedup` kernel): within-cluster
    pairs >= tau must match a numpy replay of the same deterministic
    k-means assignment, and CROSS-cluster pairs must be absent even when
    their cosine clears tau (the blocking contract — recall is traded
    for never materializing the corpus product)."""
    import numpy as np
    from pyspark.sql import functions as F

    from financial_data_science_spark.functions.similarity import (
        cosine,
        ivf_build_index,
    )

    rng = np.random.default_rng(5)
    base = rng.normal(size=(24, 8))
    vecs = list(base)
    vecs.append(base[3] + rng.normal(scale=0.01, size=8))   # near-dup of 3
    vecs.append(base[10] + rng.normal(scale=0.01, size=8))  # near-dup of 10
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    index = ivf_build_index(emb, nlist=4, iters=2, train_mod=1)
    binned = index["binned"]
    l = binned.select(
        F.col("vec_id").alias("left_id"),
        F.col("embedding").alias("lv"), "cluster")
    r = binned.select(
        F.col("vec_id").alias("right_id"),
        F.col("embedding").alias("rv"), "cluster")
    tau = 0.6
    got = (
        l.join(r, "cluster")
        .filter(F.col("left_id") < F.col("right_id"))
        .withColumn("c6", F.round(cosine("lv", "rv"), 6))
        .filter(F.col("c6") >= tau)
        .select("cluster", "left_id", "right_id", "c6")
        .toPandas()
    )
    got_pairs = {(int(a), int(b)) for a, b in got[["left_id", "right_id"]].to_numpy()}

    # numpy replay of assignment (same cluster map from the index itself
    # — the assignment determinism is pinned by test_similarity's IVF
    # tests; here we verify the PAIR SEMANTICS given the assignment)
    assign = {
        int(x["vec_id"]): int(x["cluster"]) for x in binned.collect()
    }
    V = np.array(vecs)
    nrm = np.linalg.norm(V, axis=1)
    want = set()
    crossers = 0
    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            c = round(float(V[i] @ V[j] / (nrm[i] * nrm[j])), 6)
            if c >= tau:
                if assign[i] == assign[j]:
                    want.add((i, j))
                else:
                    crossers += 1
    assert got_pairs == want
    # the planted near-identical pairs are same-cluster by construction
    assert {(3, 24), (10, 25)} <= got_pairs


def _dup_corpus(spark):
    """Six 8-dim base vectors, each stored under four ids (id i holds
    base i % 6): every query meets runs of equal scores, and ids 0..5
    (the Lloyd inits) are distinct vectors."""
    base = np.random.RandomState(17).randn(6, 8)
    return spark.createDataFrame(
        pd.DataFrame(
            [(i, base[i % 6].tolist()) for i in range(24)],
            columns=["vec_id", "embedding"],
        )
    )


def _all_pairs(q, emb):
    return (
        q.select(F.col("vec_id").alias("query_id"))
        .crossJoin(emb.select(F.col("vec_id").alias("neighbor_id")))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )


# ranker -> (score column, ascending, run(queries, corpus, k)); the
# inverted-list rankers probe one of three lists, so some queries see
# fewer candidates than the full corpus
_RANKERS = {
    "cosine_topk": ("score", False, lambda q, e, k: S.cosine_topk(q, e, k=k)),
    "ivf_query_index": ("score", False, lambda q, e, k: S.ivf_topk(
        q, e, k=k, nlist=3, nprobe=1, iters=2)),
    "pq_topk": ("approx_d2", True, lambda q, e, k: S.pq_topk(
        q, e, dim=8, m=2, k=4, topk=k, iters=2)),
    "ivfpq_query_index": ("approx_d2", True, lambda q, e, k: S.ivfpq_topk(
        q, e, dim=8, nlist=3, nprobe=1, m=2, k=4, topk=k, iters=2)),
    "rerank_exact": ("score", False, lambda q, e, k: S.rerank_exact(
        _all_pairs(q, e), e, k=k)),
    "rerank_exact_l2": ("score", True, lambda q, e, k: S.rerank_exact(
        _all_pairs(q, e), e, k=k, metric="l2")),
    "ivfpq_residual_topk": ("approx_d2", True, lambda q, e, k:
        S.ivfpq_residual_topk(q, e, dim=8, nlist=3, nprobe=1, m=2, k=4,
                              topk=k, iters=2)),
    "sq8_topk": ("score", False, lambda q, e, k: S.sq8_topk(q, e, k=k)),
}


@pytest.mark.parametrize("ranker", list(_RANKERS))
def test_ranker_keeps_min_k_rows_and_breaks_ties_to_lowest_id(spark, ranker):
    """The shared top-k contract on a corpus of duplicated vectors: each
    query gets min(k, candidates) rows, the k best by the ranker's score
    order (descending cosine, ascending approx_d2 / L2), and ties go to
    the lowest neighbor_id.  The candidates and their scores come from
    the same ranker with k above every candidate count."""
    by, ascending, run = _RANKERS[ranker]
    emb = _dup_corpus(spark)
    q = emb.filter(F.col("vec_id") < 3)
    k = 2
    full = run(q, emb, 100).toPandas()
    got = run(q, emb, k).toPandas()
    ranked = full.sort_values(
        ["query_id", by, "neighbor_id"], ascending=[True, ascending, True]
    )
    # each query has three duplicates of itself, so the top-2 splits a
    # run of equal scores: the tie-break is exercised
    assert (ranked.groupby("query_id")[by].nth(k - 1).to_numpy()
            == ranked.groupby("query_id")[by].nth(k).to_numpy()).all()
    n_cand = full.groupby("query_id").size()
    assert (n_cand <= 23).all() and len(n_cand) == 3
    if ranker in ("cosine_topk", "pq_topk", "rerank_exact",
                  "rerank_exact_l2", "sq8_topk"):
        assert (n_cand == 23).all()
    assert got.groupby("query_id").size().to_dict() == (
        n_cand.clip(upper=k).to_dict()
    )
    key = ["query_id", "neighbor_id"]
    want = ranked.groupby("query_id").head(k)
    assert sorted(map(tuple, got[key].to_numpy())) == sorted(
        map(tuple, want[key].to_numpy())
    )
